package graft

import graft.io.ObjectStore
import graft.pipelines.{CorePipelines, ServicePipelines}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** End-to-end reference-pipeline parity on Oracle-shaped dirty fixtures
  * (FIXTURES.md §A conventions: stray whitespace/case in ids, embedded
  * newlines, null audit columns, unmapped enums, dirty flags). Pins the
  * runtime invariants the reference enforces (SURVEY §5.1): audit-triple
  * semantics, enum default fallback, left-join null survival, upload
  * mapping completeness, deterministic duplicate-name numbering. */
/** JVM-shared put recorder — local-mode executors run in-process, so a
  * static collector sees every partition's client. */
object RecordingClientState {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  def record(key: String, contentType: String): Unit = { q.add((key, contentType)); () }
  def puts(): Seq[(String, String)] = { import scala.jdk.CollectionConverters._; q.asScala.toSeq }
  def clear(): Unit = q.clear()
}

class RecordingClient extends ObjectStore.Client {
  def put(bucket: String, key: String, bytes: Array[Byte], contentType: String): Unit =
    RecordingClientState.record(key, contentType)
  def ensureBucket(bucket: String): Unit = ()
}

class ReferencePipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-03-01 10:00:00")
  private val t1 = Timestamp.valueOf("2024-03-02 11:30:00")
  private val load = Timestamp.valueOf("2024-06-01 00:00:00")

  test("toponyms: id/name normalization and the audit triple") {
    val src = Seq(
      ("  AbC-1 ", " Via Roma \n", t0, t1, "S"),
      ("xyz-2", ("Corso" + "\u0000" + " Milano"), t0, null, "N"),
      ("q-3", "Piazza", null, null, null)
    ).toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD", "DISABLED")
    val out = CorePipelines.toponyms(src, lit(load)).collect()
      .map(r => r.getString(0) -> r).toMap

    assert(out("abc-1").getString(1) == "Via Roma")
    assert(out("abc-1").getTimestamp(4) != null, "disabled S -> disabled_at set")
    assert(out("xyz-2").getTimestamp(4) == null, "disabled N -> null")
    assert(out("xyz-2").getString(1) == "Corso Milano", "\\x00 stripped, collapsed")
    // updated_at chain: last_mod -> creation -> load default
    assert(out("xyz-2").getTimestamp(3) == out("xyz-2").getTimestamp(2))
    assert(out("q-3").getTimestamp(2) == load && out("q-3").getTimestamp(3) == load)
  }

  test("companies: chained dim joins, enum default, unmatched FK survives as null") {
    val titolare = Seq(
      ("C1", "Osp. Alfa", "Alfa srl", "S.P.A. ", "CF1", "IVA1", " TR1", "N1", "027042", t0, t1, "N"),
      ("C2", "Osp. Beta", null, "weird llc", "CF2", "IVA2", "nope", null, "999999", t0, null, "N")
    ).toDF("CLIENTID", "DENOMINAZIONE", "RAG_SOC", "FORMA_SOCIETARIA", "CFISC",
      "PIVA", "ID_TIPO_RICH_FK", "ID_NATURA_FK", "COD_COMUNE_ESTESO",
      "CREATION", "LAST_MOD", "DISABLED")
    val tipo = Seq(("tr1", "Pubblico")).toDF("CLIENTID", "NOME")
    val natura = Seq(("n1", "Azienda Sanitaria")).toDF("CLIENTID", "NOME")
    val mun = Seq(("027042", 42L)).toDF("istat_code", "id")

    val out = CorePipelines.companies(titolare, tipo, natura, mun, lit(load))
      .collect().map(r => r.getString(0) -> r).toMap

    val c1 = out("c1")
    assert(c1.getString(3) == "SPA", "dirty 'S.P.A. ' maps to SPA")
    assert(c1.getString(6) == "Pubblico" && c1.getString(7) == "Azienda Sanitaria")
    assert(c1.getLong(8) == 42L)
    val c2 = out("c2")
    assert(c2.getString(3) == "OTHER", "unmapped form falls back")
    assert(c2.isNullAt(6) && c2.isNullAt(7) && c2.isNullAt(8),
      "unmatched FKs survive the left joins as nulls")
  }

  private def resolutionFixtures() = {
    val delibera = Seq(
      ("D1", "Delibera annuale", "TD1", "payload-1".getBytes, t0, t1, "N"),
      ("D2", "Delibera annuale", "TD1", "payload-2".getBytes, t0, t1, "N")
    ).toDF("CLIENTID", "NOME", "ID_TIPO_FK", "ALLEGATO", "CREATION", "LAST_MOD", "DISABLED")
    val tipoDelibera = Seq(("td1", "Del. Tipo A")).toDF("CLIENTID", "NOME")
    val attoSchema = StructType(Seq(
      StructField("CLIENTID", StringType), StructField("ANNO", StringType),
      StructField("NUMERO", StringType), StructField("ID_TIPO_FK", StringType),
      StructField("CREATION", TimestampType), StructField("LAST_MOD", TimestampType),
      StructField("DISABLED", StringType)))
    val atto = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("A1", "2024 ", "7", "TA1", t0, t1, "N"),
        Row("A2", "2024", null, "TA1", t0, t1, "N")), // null NUMERO -> null name
      attoSchema)
    val tipoAtto = Seq(("ta1", "Atto Tipo B")).toDF("CLIENTID", "DESCR")
    (delibera, tipoDelibera, atto, tipoAtto)
  }

  test("resolutions: branch union, attachment split + upload mapping, name numbering") {
    val (delibera, tipoDelibera, atto, tipoAtto) = resolutionFixtures()
    val branches = CorePipelines.resolutionBranches(
      delibera, tipoDelibera, atto, tipoAtto, lit(load))
    assert(branches.count() == 4)
    val a1 = branches.filter(col("id") === "a1").head()
    assert(a1.getAs[String]("name") == "2024-7 [a1]", "ANNO-NUMERO [id] concat, trimmed")
    assert(branches.filter(col("id") === "a2").head().getAs[String]("name") == null,
      "null NUMERO propagates to null name")

    val root = java.nio.file.Files.createTempDirectory("graft-os-test").toString
    val (merged, release) = CorePipelines.attachMappingWithRelease(
      branches, "resolutions", () => new ObjectStore.LocalFsClient(root))
    try {
      assert(merged.count() == 4)
      val keys = merged.filter(col("object_key").isNotNull)
        .collect().map(_.getAs[String]("object_key"))
      assert(keys.length == 2, "both delibere uploaded, atti skipped")
      keys.foreach(k => assert(
        java.nio.file.Files.exists(java.nio.file.Paths.get(root, "resolutions", k)),
        s"object $k must exist on the store"))

      val named = CorePipelines.disambiguateNames(merged)
        .filter(col("name").startsWith("Delibera"))
        .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("name")).toMap
      assert(named("d1") == "Delibera annuale", "first keeper unchanged (id order)")
      assert(named("d2") == "Delibera annuale (1)", "second gets ' (1)'")
    } finally release()
  }

  test("upload executes exactly once per run; content type derives from the name") {
    RecordingClientState.clear()
    val res = Seq(
      ("r1", "doc one.pdf", "payload-a".getBytes),
      ("r2", "plain name", "payload-b".getBytes)
    ).toDF("id", "name", "attachment")
    val (merged, release) = CorePipelines.attachMappingWithRelease(
      res, "b", () => new RecordingClient)
    try {
      // two caller actions over the merged frame — e.g. a count then the
      // real sink — must NOT re-run the upload side effect
      merged.count()
      merged.count()
      val puts = RecordingClientState.puts()
      assert(puts.size == 2, s"each attachment must upload exactly once, saw $puts")
      assert(puts.exists { case (k, ct) => k.startsWith("r1/") && ct == "application/pdf" },
        "known extension maps to its content type (src/core.py:709-712,938)")
      assert(puts.exists { case (k, ct) => k.startsWith("r2/") && ct == "application/octet-stream" },
        "extension-less name falls back to octet-stream")
    } finally release()
  }

  test("udo_types: grouped-list bridges, element mapping, PG literals, scope filter") {
    val tipo = Seq(
      (" T1 ", "Tipo  Uno\n", " C1", "NC1 ", "SET", "TGT", " K1 ", "S", "n", " y ", t0, t1, "N"),
      ("T2", "Tipo Due", "C2", "NC2", "SET", "TGT", "K2", null, "S", "N", t0, t1, "S"),
      ("T3", "Senza ambito", "C3", "NC3", "SET", "TGT", "K3", "N", "N", "N", t0, t1, "N")
    ).toDF("CLIENTID", "DESCR", "CODICE_UDO", "NOME_CODICE_UDO", "SETTING",
      "TARGET", "ID_CLASSIFICAZIONE_UDO_FK", "OSPEDALIERO", "SALUTE_MENTALE",
      "POSTI_LETTO", "CREATION", "LAST_MOD", "DISABLED")
    val bindAmbito = Seq(("T1", "A1"), ("T2", "A2")).toDF("ID_TIPO_22_FK", "ID_AMBITO_FK")
    val ambito = Seq(
      ("a1", "Ambito Uno", "Descr 1", "S", "N", "N", "y", "N", "N", "N", "N"),
      ("a2", "", "Descr 2", "N", "N", "N", "N", "N", "N", "N", "N") // empty scope_name -> row dropped
    ).toDF("CLIENTID", "NOME", "DESCR", "AGGIUNGI_DISCIPLINE",
      "AGGIUNGI_DISCIPLINE_AZ_SAN", "AGGIUNGI_DISCIPLINE_PUB_PRIV",
      "AGGIUNGI_BRANCHE", "AGGIUNGI_BRANCHE_AZ_SAN", "AGGIUNGI_BRANCHE_PUB_PRIV",
      "AGGIUNGI_PRESTAZIONI", "AGGIUNGI_AMBITO")
    val bindNatura = Seq(("T1", "N1"), ("T1", "N2"), ("T1", "NX")) // NX unmatched -> dropped element
      .toDF("ID_TIPO_UDO_22_FK", "ID_NATURA_FK")
    val natura = Seq(("n1", "AzSan"), ("n2", "Altro Ente")).toDF("CLIENTID", "NOME")
    val bindFlusso = Seq(("T1", "F1"), ("T1", "F2")).toDF("ID_TIPO_UDO_22_FK", "ID_FLUSSO_FK")
    val flusso = Seq(("f1", "FLS 21.B"), ("f2", "HSP")).toDF("CLIENTID", "NOME")

    val out = CorePipelines.udoTypes(tipo, bindAmbito, ambito, bindNatura,
      natura, bindFlusso, flusso, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r).toMap

    assert(out.keySet == Set("t1"), "empty scope_name (t2) and no-ambito (t3) rows drop")
    val r = out("t1")
    assert(r.getAs[String]("name") == "Tipo Uno", "text clean collapses whitespace")
    assert(r.getAs[Boolean]("is_hospital") && !r.getAs[Boolean]("is_mental_health")
      && r.getAs[Boolean]("has_beds"), "'S'/'n'/' y ' flags normalize")
    assert(r.getAs[Boolean]("has_disciplines") && r.getAs[Boolean]("has_branches")
      && !r.getAs[Boolean]("has_services"), "scope flags ride the ambito join")
    // canonicalized (sorted raw), element-mapped, unmatched FK's null dropped,
    // rendered as a PG text[] literal
    assert(r.getAs[String]("company_natures") == "{\"Altro Ente\",\"AZIENDA_SANITARIA\"}",
      "sorted on raw name, AzSan maps, unmapped passes through, null element dropped")
    assert(r.getAs[String]("ministerial_flows") == "{\"FLS_21_B\",\"HSP\"}",
      "spaces and dots -> underscores inside elements")
    assert(r.getAs[Timestamp]("disabled_at") == null)
    assert(out("t1").getAs[String]("scope_name") == "Ambito Uno")
  }

  test("udo_types: no bridge rows -> empty {} literals, not nulls") {
    val tipo = Seq(("T9", "Solo", "C", "NC", "S", "T", "K", "N", "N", "N", t0, t1, "N"))
      .toDF("CLIENTID", "DESCR", "CODICE_UDO", "NOME_CODICE_UDO", "SETTING",
        "TARGET", "ID_CLASSIFICAZIONE_UDO_FK", "OSPEDALIERO", "SALUTE_MENTALE",
        "POSTI_LETTO", "CREATION", "LAST_MOD", "DISABLED")
    val bindAmbito = Seq(("T9", "A9")).toDF("ID_TIPO_22_FK", "ID_AMBITO_FK")
    val ambito = Seq(("a9", "Ambito Nove", "D", "N", "N", "N", "N", "N", "N", "N", "N"))
      .toDF("CLIENTID", "NOME", "DESCR", "AGGIUNGI_DISCIPLINE",
        "AGGIUNGI_DISCIPLINE_AZ_SAN", "AGGIUNGI_DISCIPLINE_PUB_PRIV",
        "AGGIUNGI_BRANCHE", "AGGIUNGI_BRANCHE_AZ_SAN", "AGGIUNGI_BRANCHE_PUB_PRIV",
        "AGGIUNGI_PRESTAZIONI", "AGGIUNGI_AMBITO")
    val emptyBind = Seq.empty[(String, String)].toDF("ID_TIPO_UDO_22_FK", "ID_NATURA_FK")
    val natura = Seq(("n1", "AzSan")).toDF("CLIENTID", "NOME")
    val emptyBindF = Seq.empty[(String, String)].toDF("ID_TIPO_UDO_22_FK", "ID_FLUSSO_FK")
    val flusso = Seq(("f1", "HSP")).toDF("CLIENTID", "NOME")
    val r = CorePipelines.udoTypes(tipo, bindAmbito, ambito, emptyBind,
      natura, emptyBindF, flusso, lit(load)).head()
    assert(r.getAs[String]("company_natures") == "{}")
    assert(r.getAs[String]("ministerial_flows") == "{}")
  }

  test("users: id sources from UTENTE (the reference's CLIENTID_right), provenance null-out") {
    val anagrafica = Seq(
      ("AN1", "Mario ", " Rossi", "CF-M", "m@x.it ", "1980-01-02", "Via A", "3",
        "041", "333", "ID1", "2030-01-01", "Medico", "027042", t0, t1),
      ("AN2", "Lia", "Bianchi", "CF-L", null, "garbage", "Via B", "4",
        null, null, null, null, null, "999999", t0, null)
    ).toDF("CLIENTID", "NOME", "COGNOME", "CFISC", "EMAIL", "DATA_NASCITA",
      "VIA_PIAZZA", "CIVICO", "TELEFONO", "CELLULARE", "CARTA_IDENT_NUM",
      "CARTA_IDENT_SCAD", "PROFESSIONE", "COD_LUOGO_NASCITA", "CREATION", "LAST_MOD")
    val utenteSchema = StructType(Seq(
      StructField("CLIENTID", StringType), StructField("ID_ANAGR_FK", StringType),
      StructField("USERNAME_CAS", StringType), StructField("RUOLO", StringType),
      StructField("PROVENIENZA_UO", StringType), StructField("ID_UO", StringType),
      StructField("DATA_DISABILITATO", TimestampType)))
    val utente = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(" U1 ", "an1", "mrossi", "Amministratore", "MANUALE", "UO-7", null),
        Row("U2", "AN2", "lbianchi", null, "ORGANIGRAMMA_TREE", "UO-8", t1)),
      utenteSchema)
    val uo = Seq(("OU7", "UO-7"), ("OU8", "UO-8")).toDF("CLIENTID", "ID_UO")
    val mun = Seq(("027042", "Venezia")).toDF("istat_code", "name")

    val out = CorePipelines.users(utente, anagrafica, uo, mun, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r).toMap

    val u1 = out("u1")
    assert(u1.getAs[String]("role") == "ADMIN", "enum map normalizes case")
    assert(u1.getAs[String]("first_name") == "Mario" && u1.getAs[String]("last_name") == "Rossi")
    assert(u1.getAs[String]("email") == "m@x.it")
    assert(u1.getAs[String]("birth_place") == "Venezia")
    assert(u1.getAs[String]("operational_unit_id") == "ou7",
      "manual provenance keeps the uo join")
    assert(u1.getAs[Timestamp]("disabled_at") == null)

    val u2 = out("u2")
    assert(u2.getAs[String]("role") == "OPERATOR", "null RUOLO falls back")
    assert(u2.getAs[String]("email") == "-", "null email fills '-'")
    assert(u2.getAs[java.sql.Timestamp]("birth_date") == null, "garbage date nulls, not throws")
    assert(u2.isNullAt(u2.fieldIndex("birth_place")), "unmatched istat survives as null")
    assert(u2.isNullAt(u2.fieldIndex("operational_unit_id")),
      "ORGANIGRAMMA_TREE provenance nulls the FK before the join")
    assert(u2.getAs[Timestamp]("disabled_at") == t1,
      "direct DATA_DISABILITATO passes through verbatim")
    // updated_at chain falls to creation when LAST_MOD is null
    assert(u2.getAs[Timestamp]("updated_at") == u2.getAs[Timestamp]("created_at"))
  }

  test("specialties: three-leg union, ALTRO parent scalar, enum-or-null type") {
    val branca = Seq(
      ("B1", "Cardiologia", "Descr b1", "C01", 1, "10", "N", t0, t1, "N"),
      ("B2", "Altro ramo", null, "C99", 0, "99", "S", t0, t1, "N")
    ).toDF("CLIENTID", "NOME", "DESCR", "CODICE", "PROGRAMMAZIONE",
      "ID_BRANCA", "IS_ALTRO", "CREATION", "LAST_MOD", "DISABLED")
    val artic = Seq(
      ("A1", null.asInstanceOf[String], "Setting X", t0, t1, "N")
    ).toDF("CLIENTID", "DESCR", "SETTING_BRANCA", "CREATION", "LAST_MOD", "DISABLED")
    val disciplina = Seq(
      ("D1", "Chirurgia", 3, "dd", "Osp", "C10", 1, 0, "RG1", "77", t0, t1, "N"),
      ("D2", "Ignota", 4, "dd", "boh", "C11", 0, 1, null, "78", t0, t1, "N")
    ).toDF("CLIENTID", "NOME", "ORDINE", "DESCR", "TIPO", "CODICE",
      "PROGRAMMAZIONE", "POA", "ID_RAGG_DISCIPL_TEMPL_FK", "ID_DISCIPLINA",
      "CREATION", "LAST_MOD", "DISABLED")

    val out = CorePipelines.specialties(disciplina, branca, artic, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(out.size == 5, "2 branches + 1 articulation + 2 disciplines")
    assert(out("b1").getAs[String]("record_type") == "BRANCH"
      && out("b1").getAs[Boolean]("is_used_in_cronos"))
    assert(out("b2").getAs[String]("description") == "-", "null DESCR fills '-'")
    assert(out("a1").getAs[String]("parent_specialty_id") == "b2",
      "articulations parent onto the single ALTRO branch")
    assert(out("a1").getAs[String]("name") == "-", "null DESCR names '-'")
    assert(out("d1").getAs[String]("type") == "OSPEDALIERO", "enum maps")
    assert(out("d2").isNullAt(out("d2").fieldIndex("type")), "unmapped type stays null")
    assert(out("d1").getAs[Int]("sort_order") == 3)

    // the cardinality guard: zero or two ALTRO branches must throw
    val noAltro = branca.withColumn("IS_ALTRO", lit("N"))
    intercept[IllegalArgumentException](
      CorePipelines.specialties(disciplina, noAltro, artic, lit(load)))
  }

  test("requirements: fallback scalar guard, state precedence, conditional FK") {
    val taxonomies = Seq((9L, "-"), (1L, "Strutturali")).toDF("id", "name")
    val risposta = Seq(("R1", "Si / No")).toDF("CLIENTID", "NOME")
    val requisito = Seq(
      ("Q1", "Req uno", "testo", "note", "S", "S", "S", "Generale", "TG1", "TS1", "R1", t0, t1, "N"),
      ("Q2", "Req due", "t", null, "N", "S", "N", "Specifico", "TG2", "TS2", "R1", t0, t1, "N"),
      ("Q3", "Req tre", "t", null, "N", "N", "N", "Specifico", "TG3", null, "nope", t0, t1, "N")
    ).toDF("CLIENTID", "NOME", "TESTO", "ANNOTATIONS", "VALIDATO", "ANNULLATO",
      "IRRINUNCIABILE", "TIPO", "ID_TIPO_REQUISITO_FK", "ID_TIPO_SPECIFICO_REQUISITO_FK",
      "ID_TIPO_RISPOSTA_FK", "CREATION", "LAST_MOD", "DISABLED")

    val out = ServicePipelines.requirements(requisito, risposta, taxonomies, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(out("q1").getAs[String]("state") == "VALIDATO",
      "VALIDATO wins over ANNULLATO (reference when-chain order)")
    assert(out("q2").getAs[String]("state") == "ANNULLATO")
    assert(out("q3").getAs[String]("state") == "BOZZA")
    assert(out("q1").getAs[Boolean]("is_required") && !out("q2").getAs[Boolean]("is_required"))
    assert(out("q1").getAs[String]("requirement_taxonomy_id") == "TG1",
      "TIPO=Generale picks the general FK")
    assert(out("q2").getAs[String]("requirement_taxonomy_id") == "TS2",
      "non-general picks the specific FK")
    assert(out("q3").getAs[String]("requirement_taxonomy_id") == "9",
      "null FK falls to the '-' taxonomy scalar")
    assert(out("q1").getAs[String]("response_type") == "SI___NO",
      "upper + space->_ + /->_ (reference order)")
    assert(out("q3").isNullAt(out("q3").fieldIndex("response_type")),
      "unmatched response FK survives the left join as null")

    intercept[IllegalArgumentException](ServicePipelines.requirements(
      requisito, risposta, Seq((9L, "-"), (10L, "-")).toDF("id", "name"), lit(load)))
  }

  test("procedures: CESTINATA -> BOZZA + disabled_at, literal-dot type cleanup") {
    val domanda = Seq(
      ("P1", null.asInstanceOf[String], "CU-77", "CO1", "TP1", "CESTINATA",
        t0, 30, 60, "N-1", t0, t1),
      ("P2", "D-42", "CU-78", "CO2", "TP1", "IN CORSO",
        null.asInstanceOf[Timestamp], 15, 90, "N-2", t0, null.asInstanceOf[Timestamp])
    ).toDF("CLIENTID", "ID_DOMANDA", "CODICE_UNIVOCO_NRECORD", "ID_TITOLARE_FK",
      "ID_TIPO_PROC_FK", "STATO", "DATA_CONCLUSIONE", "DURATA_PROCEDIMENTO",
      "MASSIMA_DURATA_PROCEDIMENTO", "NUMERO_PROCEDIMENTO", "CREATION", "LAST_MOD")
      .withColumn("DATA_INVIO_DOMANDA", col("CREATION"))
      .withColumn("DATA_SCADENZA", col("CREATION"))
    val tipoProc = Seq(("TP1", "Revoca Aut.")).toDF("CLIENTID", "DESCR")

    val out = ServicePipelines.procedures(domanda, tipoProc, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    val p1 = out("p1")
    assert(p1.getAs[String]("status") == "BOZZA", "CESTINATA rewrites to BOZZA")
    assert(p1.getAs[Timestamp]("disabled_at") != null,
      "STATO=CESTINATA is the disabled flag (src/auac.py:228)")
    assert(p1.getAs[String]("progressive_code") == "CU-77",
      "null ID_DOMANDA falls to CODICE_UNIVOCO_NRECORD")
    assert(p1.getAs[String]("procedure_type") == "REVOCA_AUT",
      "the dot is removed LITERALLY — the reference's regex-dot would erase the whole name")
    val p2 = out("p2")
    assert(p2.getAs[String]("status") == "IN_CORSO", "spaces -> underscores")
    assert(p2.getAs[Timestamp]("disabled_at") == null)
  }

  test("healthcare_companies: code-match join to the ulss dimension") {
    val azienda = Seq(
      ("HC1", " 501 ", "ULSS  Prima\n"),
      ("HC2", "999", "Senza ulss")
    ).toDF("CLIENTID", "CODICE", "DESCRIZIONE")
    val ulss = Seq((7L, "501")).toDF("id", "code")
    val out = ServicePipelines.healthcareCompanies(azienda, ulss)
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(out("hc1").getAs[Long]("ulss_id") == 7L, "cleaned code matches")
    assert(out("hc1").getAs[String]("name") == "ULSS Prima")
    assert(out("hc2").isNullAt(out("hc2").fieldIndex("ulss_id")),
      "unmatched code survives as null")
  }

  test("operational_offices: dim joins, decimal(8,2) lat/lon, strict 'S' main-address flag") {
    val sede = Seq(
      (" SO1 ", "ST1", " Sede  Uno ", "Via C", " 9", "30100", "S", "027042 ",
        "TPF1", "45.4375", "12.3312", "TOP1", t0, t1, "N"),
      ("SO2", "ST2", "Sede Due", "Via D", "1", "30100", " s ", "999999",
        "nope", "not-a-number", null, null, t0, null, "N")
    ).toDF("CLIENTID", "ID_STRUTTURA_FK", "DENOMINAZIONE", "VIA_PIAZZA",
      "CIVICO", "CAP", "FLAG_INDIRIZZO_PRINCIPALE", "ISTAT",
      "ID_TIPO_PUNTO_FISICO_FK", "LATITUDINE", "LONGITUDINE",
      "ID_TOPONIMO_FK", "CREATION", "LAST_MOD", "DISABLED")
    val mun = Seq(("027042", 42L)).toDF("istat_code", "id")
    val tpf = Seq(("tpf1", "Sede Operativa")).toDF("CLIENTID", "NOME")

    val out = CorePipelines.operationalOffices(sede, mun, tpf, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    val s1 = out("so1")
    assert(s1.getAs[String]("name") == "Sede Uno")
    assert(s1.getAs[Long]("municipality_id") == 42L, "trimmed ISTAT matches")
    assert(s1.getAs[String]("physical_point_type") == "Sede Operativa")
    assert(s1.getAs[Boolean]("is_main_address"))
    assert(s1.getAs[java.math.BigDecimal]("lat").toPlainString == "45.44",
      "HALF_UP to numeric(8,2) like the PG coercion")
    assert(s1.getAs[java.math.BigDecimal]("lon").toPlainString == "12.33")
    val s2 = out("so2")
    assert(!s2.getAs[Boolean]("is_main_address"),
      "' s ' is NOT 'S' — the reference's one strict flag")
    assert(s2.isNullAt(s2.fieldIndex("lat")), "garbage lat nulls, not throws")
    assert(s2.isNullAt(s2.fieldIndex("municipality_id"))
      && s2.isNullAt(s2.fieldIndex("physical_point_type")),
      "unmatched FKs survive the left joins")
  }

  test("udos: derived company map, provenance null-out, '-' placeholders, strict y flags") {
    val udo = Seq(
      ("UD1", "Udo\nUno", "Attiva ", "U-1", "T1", " SO1", "ED1", "2", "-", "P1",
        "F1", "FF", "Y", "MANUALE", "UO-7", 1),
      ("UD2", "Udo Due", null, "U-2", "T1", "SO2", null, null, "B2", "-",
        null, null, "s", "ORGANIGRAMMA_TREE", "UO-7", 0)
    ).toDF("CLIENTID", "DESCR", "STATO", "ID_UNIVOCO", "ID_TIPO_UDO_22_FK",
      "ID_SEDE_FK", "ID_EDIFICIO_STR_FK", "PIANO", "BLOCCO", "PROGRESSIVO",
      "CODICE_FLUSSO_MINISTERIALE", "COD_FAR_FAD", "SIO", "PROVENIENZA_UO",
      "ID_UO", "AUAC")
      .withColumn("STAREP", lit("SR")).withColumn("CDC", lit("CC"))
      .withColumn("PAROLE_CHIAVE", lit("k")).withColumn("ANNOTATIONS", lit("n"))
      .withColumn("WEEK", lit("N")).withColumn("FLAG_MODULO", lit("N"))
      .withColumn("CREATION", lit(t0)).withColumn("LAST_MOD", lit(t1))
      .withColumn("DISABLED", lit("N"))
    val sede = Seq(("so1", "ST1"), ("so2", "ST-GHOST"))
      .toDF("CLIENTID", "ID_STRUTTURA_FK")
    val struttura = Seq(("st1", "C1")).toDF("CLIENTID", "ID_TITOLARE_FK")
    val uo = Seq(("OU7", "UO-7")).toDF("CLIENTID", "ID_UO")

    val out = CorePipelines.udos(udo, sede, struttura, uo, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    val u1 = out("ud1")
    assert(u1.getAs[String]("name") == "UdoUno", "embedded newline stripped")
    assert(u1.getAs[String]("status") == "ATTIVA")
    assert(u1.getAs[String]("company_id") == "c1",
      "sede JOIN struttura derives the owning company")
    assert(u1.getAs[String]("operational_unit_id") == "ou7",
      "manual provenance keeps the uo join")
    assert(u1.isNullAt(u1.fieldIndex("block")), "'-' placeholder nulls")
    assert(u1.getAs[String]("progressive") == "P1")
    assert(u1.getAs[Boolean]("is_sio") && u1.getAs[Boolean]("is_auac"))
    val u2 = out("ud2")
    assert(u2.getAs[String]("status") == "NUOVA", "null STATO fills NUOVA")
    assert(u2.isNullAt(u2.fieldIndex("company_id")),
      "office whose structure is unknown keeps a null company (left-join chain)")
    assert(u2.isNullAt(u2.fieldIndex("operational_unit_id")),
      "ORGANIGRAMMA_TREE provenance nulls the FK before the join")
    assert(u2.isNullAt(u2.fieldIndex("progressive")))
    assert(!u2.getAs[Boolean]("is_sio"), "'s' is NOT 'y' — strict y-only flag")
    assert(!u2.getAs[Boolean]("is_auac"), "AUAC=0 -> false")
    assert(u1.isNullAt(u1.fieldIndex("organigram_node_id")),
      "poa link is the reference's open TODO — typed null")
  }

  test("udos_history: status collapse, bed fills, read-back semi-join, id dropped") {
    val statoUdo = Seq(
      ("SU1", " UD1", "AUTORIZZATA/ACCREDITATA", t1, t0, t0, t1),
      ("SU2", "UD1", "In Scadenza", null.asInstanceOf[Timestamp], t0, null.asInstanceOf[Timestamp], t1),
      ("SU3", "GHOST", "NUOVA", t1, t0, t0, t1)
    ).toDF("CLIENTID", "ID_UDO_FK", "STATO", "SCADENZA", "DATA_INIZIO",
      "CREATION", "LAST_MOD")
    val udo = Seq(("UD1", "Y", "n")).toDF("CLIENTID", "EROGAZIONE_DIRETTA", "EROGAZIONE_INDIRETTA")
    val beds = Seq(
      ("SU1", "12", "2", "0"),
      ("SU2", "garbage", "70000", null.asInstanceOf[String]) // strict-null casts -> 0
    ).toDF("ID_STATO_UDO_FK", "PL", "PLEX", "PLOB")
    val target = Seq(("ud1", "x")).toDF("id", "name")

    val out = CorePipelines.udosHistory(statoUdo, udo, beds, Some(target))
    assert(!out.columns.contains("hist_id") && !out.columns.contains("id"),
      "history ids are dropped — PG generates fresh UUIDs")
    val rows = out.collect()
    assert(rows.length == 2, "GHOST udo_id drops via the read-back semi-join")
    val byStatus = rows.map(r => r.getAs[String]("status") -> r).toMap
    val a = byStatus("AUTORIZZATA")
    assert(a.getAs[Int]("beds") == 12 && a.getAs[Int]("extra_beds") == 2)
    assert(a.getAs[Boolean]("is_direct_supply") && !a.getAs[Boolean]("is_indirect_supply"))
    val s = byStatus("IN SCADENZA")
    assert(s.getAs[Int]("beds") == 0, "non-numeric PL -> null -> 0")
    assert(s.getAs[Int]("extra_beds") == 0, "70000 overflows UInt16 -> null -> 0")
    assert(s.getAs[Int]("mortuary_beds") == 0, "null PLOB -> 0")
    assert(s.getAs[Timestamp]("created_at") == t1,
      "null CREATION falls to LAST_MOD — verbatim wall-clock, no tz shift")

    // warn-and-continue: no read-back target -> keep everything, orphan included
    assert(CorePipelines.udosHistory(statoUdo, udo, beds, None).count() == 3)
  }

  test("districts: strip ONE trailing dash, then first-occurrence ' - ' rewrite") {
    import graft.pipelines.DimensionPipelines
    val src = Seq(
      ("DI1", "Az-Zero-", "D1", t0, t1, "N"),
      ("DI2", "A-B-C", "D2", t0, t1, "N"), // only the FIRST '-' expands
      ("DI3", "NoDash", "D3", t0, t1, "N")
    ).toDF("CLIENTID", "TITOLARE", "DISTRETTO", "CREATION", "LAST_MOD", "DISABLED")
    val out = DimensionPipelines.districts(src, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("name")).toMap
    assert(out("di1") == "Az - Zero")
    assert(out("di2") == "A - B-C", "replace is first-occurrence (Polars str.replace)")
    assert(out("di3") == "NoDash")
  }

  test("resolution_types: upper-cased branches, deterministic first-wins name dedup") {
    import graft.pipelines.DimensionPipelines
    val delib = Seq(("TD2", "Tipo Comune", t0, t1, "N"), ("TD9", "Solo Delibera", t0, t1, "N"))
      .toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD", "DISABLED")
    val atto = Seq(("TA1", "tipo comune  ", t0, t1, "N"))
      .toDF("CLIENTID", "DESCR", "CREATION", "LAST_MOD", "DISABLED")
    val out = DimensionPipelines.resolutionTypes(delib, atto, lit(load)).collect()
    assert(out.length == 2, "TIPO COMUNE deduped across branches")
    val byName = out.map(r => r.getAs[String]("name") -> r.getAs[String]("id")).toMap
    assert(byName("TIPO COMUNE") == "ta1", "keeper pinned by min id, not physical order")
    assert(byName.contains("SOLO DELIBERA"))
  }

  test("production_factors: ''/'?' -> 0, garbage -> null-safe 0 path, NUL placeholder") {
    import graft.pipelines.DimensionPipelines
    val src = Seq(
      ("FP1", "TF1", "12", "Stanza  1", "?", "NUL", t0, t1, "N"),
      ("FP2", "TF1", "", "NUL", "boh", ("RC" + "\u0000" + "x"), t0, t1, "N")
    ).toDF("CLIENTID", "ID_TIPO_FK", "VALORE", "VALORE2", "VALORE3", "DESCR",
      "CREATION", "LAST_MOD", "DISABLED")
    val out = DimensionPipelines.productionFactors(src, lit(load))
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    val f1 = out("fp1")
    assert(f1.getAs[Int]("num_beds") == 12 && f1.getAs[Int]("num_hospital_beds") == 0)
    assert(f1.getAs[String]("room_name") == "Stanza 1", "whitespace collapsed")
    assert(f1.isNullAt(f1.fieldIndex("room_code")), "literal NUL placeholder -> null")
    val f2 = out("fp2")
    assert(f2.getAs[Int]("num_beds") == 0, "empty -> 0")
    assert(f2.isNullAt(f2.fieldIndex("num_hospital_beds")),
      "non-numeric garbage nulls (documented divergence: the reference's strict cast aborts)")
    assert(f2.getAs[String]("room_code") == "RCx", "NUL bytes stripped")
  }

  test("udo_specialties: three-branch diagonal union with clinical-unit join") {
    val branca = Seq((" S", "n", "B1", "UD1")).toDF(
      "AUTORIZZATA", "ACCREDITATA", "ID_BRANCA_FK", "ID_UDO_FK")
    val altro = Seq(("A1", "UD1")).toDF("ID_ARTIC_BRANCA_ALTRO_FK", "ID_UDO_FK")
    val disc = Seq(
      ("D1", "UD1", 4, 1, 0, 2, " H12", "UO-7", "MANUALE"),
      (null.asInstanceOf[String], "UD1", 9, 9, 9, 9, "X", "UO-7", "MANUALE")
    ).toDF("ID_DISCIPLINA_FK", "ID_UDO_FK", "POSTI_LETTO", "POSTI_LETTO_EXTRA",
      "POSTI_LETTO_OBI", "POSTI_LETTO_ACC", "HSP12", "ID_UO", "PROVENIENZA_UO")
    val uo = Seq(("OU7", "UO-7")).toDF("CLIENTID", "ID_UO")
    val out = CorePipelines.udoSpecialties(branca, altro, disc, uo).collect()
    assert(out.length == 3, "null-FK disciplina row drops (the reference's filter)")
    val bySpec = out.map(r => r.getAs[String]("specialty_id") -> r).toMap
    assert(bySpec("b1").getAs[Boolean]("is_authorized"), "' S' is s-or-y true")
    assert(bySpec("b1").isNullAt(bySpec("b1").fieldIndex("num_beds")), "typed null beds")
    assert(!bySpec("a1").getAs[Boolean]("is_authorized"), "branca-altro hard false")
    val d = bySpec("d1")
    assert(d.getAs[Int]("num_beds") == 4 && d.getAs[Int]("num_accredited_beds") == 2)
    assert(d.getAs[String]("hsp12") == "H12")
    assert(d.getAs[String]("clinical_operational_unit_id") == "ou7")
  }

  test("requirement_taxonomies: generale filter, fallback row is deterministic") {
    val tipoReq = Seq(
      ("TG1", " Generale ", t0, t1), ("TG2", "Altro", t0, t1))
      .toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD")
    val tipoSpec = Seq(("TS1", "Strutturale", t0, null.asInstanceOf[Timestamp]))
      .toDF("CLIENTID", "NOME", "CREATION", "LAST_MOD")
    def run() = ServicePipelines.requirementTaxonomies(tipoReq, tipoSpec, lit(load))
    val rows = run().collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(rows.size == 3, "one generale (Altro filtered) + one specifico + fallback")
    assert(rows("Generale").getAs[Boolean]("is_readonly"))
    assert(!rows("Strutturale").getAs[Boolean]("is_readonly"))
    assert(rows("-").getAs[Timestamp]("created_at") == load,
      "fallback stamps from loadTime, not wall-clock now")
    assert(run().filter(col("name") === "-").head().getAs[String]("id")
      == rows("-").getAs[String]("id"),
      "fallback id is stable across runs (the reference mints a fresh uuid4 each run)")
  }

  test("udos plan: every dimension join broadcasts — the UDO fact never shuffles") {
    val udo = Seq(("UD1", "U", "A", "C", "T1", "SO1", "E", "1", "-", "-", "F", "F",
      "Y", "M", "UO-7", 1))
      .toDF("CLIENTID", "DESCR", "STATO", "ID_UNIVOCO", "ID_TIPO_UDO_22_FK",
        "ID_SEDE_FK", "ID_EDIFICIO_STR_FK", "PIANO", "BLOCCO", "PROGRESSIVO",
        "CODICE_FLUSSO_MINISTERIALE", "COD_FAR_FAD", "SIO", "PROVENIENZA_UO",
        "ID_UO", "AUAC")
      .withColumn("STAREP", lit("S")).withColumn("CDC", lit("C"))
      .withColumn("PAROLE_CHIAVE", lit("k")).withColumn("ANNOTATIONS", lit("n"))
      .withColumn("WEEK", lit("N")).withColumn("FLAG_MODULO", lit("N"))
      .withColumn("CREATION", lit(t0)).withColumn("LAST_MOD", lit(t1))
      .withColumn("DISABLED", lit("N"))
    val sede = Seq(("so1", "ST1")).toDF("CLIENTID", "ID_STRUTTURA_FK")
    val str = Seq(("st1", "C1")).toDF("CLIENTID", "ID_TITOLARE_FK")
    val uo = Seq(("OU7", "UO-7")).toDF("CLIENTID", "ID_UO")
    val plan = CorePipelines.udos(udo, sede, str, uo, lit(load))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "at 100 TB the udo fact is the big side — it must never shuffle for these joins")
  }

  test("poa module: the table list is the reference's, verbatim") {
    import graft.pipelines.PoaPipelines
    assert(PoaPipelines.tables.size == 16)
    assert(PoaPipelines.tables.head == "areas" && PoaPipelines.tables.last == "sub_areas")
    assert(PoaPipelines.tables.contains("organigrams")
      && PoaPipelines.tables.contains("function_diagram_nodes"))
  }

  test("upload keys are deterministic: re-running produces identical mappings") {
    val (delibera, tipoDelibera, atto, tipoAtto) = resolutionFixtures()
    val branches = CorePipelines.resolutionBranches(
      delibera, tipoDelibera, atto, tipoAtto, lit(load))
    val root = java.nio.file.Files.createTempDirectory("graft-os-test2").toString
    def keysOf(): Seq[String] = {
      val (merged, release) = CorePipelines.attachMappingWithRelease(
        branches, "b", () => new ObjectStore.LocalFsClient(root))
      try merged.filter(col("object_key").isNotNull)
        .collect().map(_.getAs[String]("object_key")).toSeq.sorted
      finally release()
    }
    assert(keysOf() == keysOf(), "retry/re-run must overwrite, not orphan")
  }
}
