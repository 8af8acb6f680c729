package graft.io

import graft.transforms.Text
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Object-store sink for BLOB columns (SURVEY §2.2 K4).
  *
  * The reference uploads one MinIO object per resolution on a 10-thread
  * pool with uuid4 object names (`src/core.py:899-995`) — names change on
  * retry, so a failed run leaves orphans. Here:
  *  - parallelism is partition-level: one client per partition via
  *    `mapPartitions`, scaling with the cluster instead of a driver pool;
  *  - object names are DETERMINISTIC (id + content hash + file name, each
  *    segment made path-safe by [[keySegment]]), so task retries and
  *    re-runs overwrite instead of orphaning — the exactly-once story
  *    SURVEY §7.2 requires;
  *  - the client is a trait; prod wires an S3/MinIO client, tests a local
  *    filesystem.
  */
object ObjectStore {

  trait Client extends Serializable {
    def put(bucket: String, key: String, bytes: Array[Byte], contentType: String): Unit
    def ensureBucket(bucket: String): Unit
  }

  /** Local-filesystem client (tests / dev). Refuses a key that would
    * land outside `root/bucket` (`..` segments, an absolute key). */
  final class LocalFsClient(root: String) extends Client {
    def put(bucket: String, key: String, bytes: Array[Byte], contentType: String): Unit = {
      val dir = java.nio.file.Paths.get(root, bucket).toAbsolutePath.normalize
      val p = dir.resolve(key).normalize
      require(p.startsWith(dir) && p != dir,
        s"object key '$key' resolves to $p, outside the bucket directory $dir")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    def ensureBucket(bucket: String): Unit =
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, bucket))
  }

  final case class Uploaded(id: String, objectKey: String, nBytes: Long)

  /** One object-key segment: the UTF-8 bytes of `s` outside
    * `[A-Za-z0-9._-]` percent-encoded, and a bare `.` or `..` encoded
    * whole. A segment is then plain ASCII, whatever the JVM's locale (a
    * POSIX locale cannot name a file with a non-ASCII name), and can be
    * neither a path separator nor a parent reference. */
  def keySegment(s: String): String = {
    val out = new StringBuilder
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if (c.isLetterOrDigit && c < 0x80 || c == '.' || c == '_' || c == '-') out += c
      else out ++= f"%%${b & 0xff}%02X"
    }
    out.result() match {
      case "." | ".." => s.replace(".", "%2E")
      case encoded => encoded
    }
  }

  /** The reference's content-type table (`src/core.py:709-712`, applied with
    * an octet-stream default at `:938`) keyed by the stripped type code,
    * extended with the common file-extension spellings so a lookup derived
    * from a file NAME works too. Lookup is case-insensitive. */
  val mimeTypesMapping: Map[String, String] = Map(
    "pdf" -> "application/pdf",
    "xml" -> "application/xml",
    "txt" -> "text/plain",
    "csv" -> "text/csv",
    "json" -> "application/json",
    "png" -> "image/png",
    "jpg" -> "image/jpeg",
    "jpeg" -> "image/jpeg",
    "zip" -> "application/zip")

  /** Content type for a type code / extension column: mapped value or the
    * reference's `application/octet-stream` default (`src/core.py:938`). */
  def contentTypeFor(typeCode: Column): Column =
    coalesce(
      element_at(typedLit(mimeTypesMapping), Text.lower(trim(typeCode))),
      lit("application/octet-stream"))

  /** Content type from a file-name column: last-extension lookup with the
    * octet-stream default (extension-less names hit the default). */
  def contentTypeForName(name: Column): Column =
    contentTypeFor(regexp_extract(name, "\\.([A-Za-z0-9]+)$", 1))

  /** Upload every (id, name, mime, payload) row; returns the id→object
    * mapping as a Dataset for the join-back step (the reference's
    * `src/core.py:1006-1009`). `clientFactory` runs once per partition.
    *
    * PRECONDITION: id, name, and payload are non-null — callers filter
    * the null-attachment half FIRST (as `CorePipelines.attachMapping` does).
    * Violations fail with a row-identifying error instead of an anonymous
    * NPE deep in the client. */
  def upload(
      rows: DataFrame, bucket: String,
      clientFactory: () => Client,
      idCol: String = "id", nameCol: String = "name",
      mimeCol: String = "mime", payloadCol: String = "payload"): Dataset[Uploaded] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val projected = rows.select(
      col(idCol).cast("string").as("id"),
      col(nameCol).cast("string").as("name"),
      col(mimeCol).cast("string").as("mime"),
      col(payloadCol).as("payload"),
      md5(col(payloadCol)).as("content_hash"))
    projected.as[(String, String, String, Array[Byte], String)].mapPartitions { it =>
      val client = clientFactory()
      it.map { case (id, name, mime, payload, hash) =>
        require(id != null && name != null && payload != null,
          s"upload precondition violated: null id/name/payload at id=$id name=$name " +
            "(filter null attachments before uploading)")
        // deterministic → retry-idempotent
        val key = s"${keySegment(id)}/$hash/${keySegment(name)}"
        client.put(bucket, key, payload, mime)
        Uploaded(id, key, payload.length.toLong)
      }
    }
  }
}
