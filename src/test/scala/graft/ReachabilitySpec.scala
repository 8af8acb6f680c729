package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Textual structure checks over src/main, on comment-stripped sources and
  * with no Spark session.
  *
  * Reachability: every top-level `object`/`class`/`trait` must be reachable
  * from the four mains (`Main`, `Verify`, `Bench`, `ExplainPlan`): code that
  * only a spec reaches is not part of the surface, so it goes (or gets
  * wired into a query or a pipeline). Each reached file's identifiers reach
  * the top-level definitions of that name, whose files are scanned in turn.
  * A shared simple name over-reaches, never under.
  *
  * Cache ownership: only `graft.engine` (`Lineage`'s scopes and
  * `BoundedCaches`) and `GraftBridge` persist, unpersist or checkpoint a
  * frame, and no `def` returns a release hook (`() => Unit`): a cached
  * frame is released by its scope or by the session cache, never by a
  * hand-carried callback.
  *
  * Test scratch: no spec makes a temp directory with
  * `createTempDirectory`, which nothing deletes, or builds a fixed path
  * under `java.io.tmpdir`, which two test JVMs would share; specs use
  * `GraftBridge.tempDir`, per JVM and deleted at exit.
  *
  * Configuration reads: no `spark.graft.*` key in src/main, and only the
  * mains and the session factory (`Main`, `Bench`, `Verify`,
  * `GraftSession`) read the environment, so every setting is parsed
  * where its entry point is.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val roots = Seq("Main", "Verify", "Bench", "ExplainPlan")

  /** Drops `//` and (nested) block comments; string and char literals are
    * kept verbatim so a `//` inside a URL literal is not a comment. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    val n = src.length
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < n && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end + 3
        out ++= src.substring(i, stop)
        i = stop
      } else if (src(i) == '"') {
        out += '"'; i += 1
        while (i < n && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < n) { out += src(i); i += 1 }
          out += src(i); i += 1
        }
        if (i < n) { out += src(i); i += 1 }
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || (src(i + 1) == '\\' && i + 3 < n && src(i + 3) == '\''))) {
        val stop = if (src(i + 2) == '\'') i + 3 else i + 4
        out ++= src.substring(i, stop)
        i = stop
      } else { out += src(i); i += 1 }
    }
    out.result()
  }

  private val topLevelDef =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** The `.scala` files under `dir`, comment-stripped, by path. */
  private def scalaSources(dir: String): Map[String, String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString ->
        stripComments(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
      .toMap

  private lazy val sources: Map[String, String] = scalaSources("src/main/scala")

  /** Top-level definition name → the files defining it. */
  private lazy val defs: Map[String, Set[String]] =
    sources.toSeq.flatMap { case (path, text) =>
      topLevelDef.findAllMatchIn(text).map(_.group(1) -> path)
    }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }

  /** The names a file uses, its own definition headers excluded. */
  private def uses(text: String): Set[String] =
    ident.findAllIn(topLevelDef.replaceAllIn(text, " ")).toSet

  private def reached: Set[String] = {
    var names = roots.toSet
    var queue = roots.flatMap(defs.getOrElse(_, Set.empty)).distinct
    var seen = queue.toSet
    while (queue.nonEmpty) {
      val file = queue.head
      queue = queue.tail
      uses(sources(file)).filter(defs.contains).foreach { name =>
        names += name
        defs(name).filterNot(seen).foreach { f => seen += f; queue :+= f }
      }
    }
    names
  }

  /** Files that may cache by hand: the engine's cache owners and the bridge. */
  private def cacheOwner(path: String): Boolean =
    path.contains("/graft/engine/") || path.endsWith("/GraftBridge.scala")

  /** A persist, unpersist, cache or checkpoint call, `BoundedCaches.persist`
    * (the registry's own entry point) excepted. */
  private val cacheCall =
    """(?<!BoundedCaches)\.(?:persist|unpersist|checkpoint|localCheckpoint)\(|\.cache\(\)""".r

  private val defName = """\bdef\s+[^\s(\[:=]+""".r

  /** Each `def`'s written result type ("" when none is written): the text
    * after its type and value parameter lists' `:`, up to the `=` or `{`
    * that opens the body, or the end of the line. */
  private def resultTypes(text: String): Seq[String] =
    defName.findAllMatchIn(text).map { m =>
      var i = m.end
      var depth = 0
      def step(): Unit = {
        if (text(i) == '(' || text(i) == '[') depth += 1
        else if (text(i) == ')' || text(i) == ']') depth -= 1
        i += 1
      }
      def opens = text(i) == '(' || text(i) == '['
      while (i < text.length && (depth > 0 || opens || text(i).isWhitespace)) step()
      if (i >= text.length || text(i) != ':') ""
      else {
        val start = i + 1
        step()
        while (i < text.length && !(depth == 0 && (text(i) == '\n' || text(i) == '{' ||
            (text(i) == '=' && !text.startsWith("=>", i))))) step()
        text.substring(start, i)
      }
    }.toSeq

  private def returnsHook(text: String): Boolean =
    resultTypes(text).exists(_.replaceAll("\\s+", "").contains("()=>Unit"))

  /** A `createTempDirectory(` call and its first argument when a literal. */
  private val tempDirCall = """\bcreateTempDirectory\s*\(\s*("[^"]*")?""".r

  /** Whether a (comment-stripped) spec makes a temp directory that nothing
    * deletes; `TarShardsSpec`'s `graft_control`, which deletes itself, is
    * the one exception. */
  private def leavesTempDir(path: String, text: String): Boolean =
    tempDirCall.findAllMatchIn(text).exists(m =>
      !(path.endsWith("/TarShardsSpec.scala") && m.group(1) == "\"graft_control\""))

  /** An interpolated `java.io.tmpdir` read: a fixed path under it. */
  private val fixedTmpPath = """\$\{[^}]*"java\.io\.tmpdir"[^}]*\}""".r

  /** A `spark.graft.` key, or an environment read. */
  private val graftKey = """spark\.graft\.""".r
  private val envRead = """\bsys\.env\b|\bSystem\.getenv\b""".r

  /** The files that may read the environment: the mains that take their
    * dev settings from it and the session factory. */
  private val envReaders = Set("Main.scala", "Bench.scala", "Verify.scala", "GraftSession.scala")

  /** Why a (comment-stripped) src/main file breaks the configuration rule,
    * if it does. */
  private def configFault(path: String, text: String): Option[String] =
    if (graftKey.findFirstIn(text).isDefined) Some("a spark.graft.* key")
    else if (envRead.findFirstIn(text).isDefined &&
        !envReaders(java.nio.file.Paths.get(path).getFileName.toString)) Some("an environment read")
    else None

  test("comment stripping keeps string literals and drops nested comments") {
    val src = "val u = \"s3://b/k\" // Gone\n/* a /* Gone */ b */ val c = '/'"
    val s = stripComments(src)
    assert(s.contains("\"s3://b/k\"") && s.contains("val c = '/'"))
    assert(!s.contains("Gone"))
  }

  test("every top-level definition in src/main is reachable from the four mains") {
    roots.foreach(r => assert(defs.contains(r), s"main $r not found in src/main/scala"))
    val unreached = (defs.keySet -- reached).toSeq.sorted
    assert(unreached.isEmpty,
      s"defined in src/main but reached from no main: ${unreached.mkString(", ")}")
  }

  test("cache ownership: only graft.engine caches by hand, and no def returns a release hook") {
    // controls: the detectors see a multi-line hook-returning def, a hook
    // parameter is not a hook result, and the registry's entry point passes
    assert(returnsHook("def f(\n  a: Int, b: () => Unit\n): (Int, () => Unit) = x"))
    assert(!returnsHook("def f(body: () => Unit)(g: Int => Unit): Unit = body()"))
    assert(cacheCall.findFirstIn("df.persist(MEMORY_AND_DISK)").isDefined)
    assert(cacheCall.findFirstIn("graft.engine.BoundedCaches.persist(df)").isEmpty)
    val caching = sources.toSeq.collect {
      case (path, text) if !cacheOwner(path) && cacheCall.findFirstIn(text).isDefined => path
    }.sorted
    val hooks = sources.toSeq.collect {
      case (path, text) if returnsHook(text) => path
    }.sorted
    assert(caching.isEmpty && hooks.isEmpty,
      s"cache calls outside graft.engine in: ${caching.mkString(", ")}; " +
        s"defs returning a () => Unit release hook in: ${hooks.mkString(", ")}")
  }

  test("test scratch: specs make temp directories with GraftBridge.tempDir, deleted at JVM exit") {
    // controls; the call is built apart so this file holds none itself
    val call = "java.nio.file.Files." + "createTempDirectory"
    assert(leavesTempDir("src/test/scala/graft/XSpec.scala", s"""val d = $call("x").toString"""))
    assert(leavesTempDir("src/test/scala/graft/TarShardsSpec.scala", s"""val d = $call("tarshards")"""))
    assert(!leavesTempDir("src/test/scala/graft/TarShardsSpec.scala", s"""val c = $call("graft_control")"""))
    assert(!leavesTempDir("src/test/scala/graft/XSpec.scala", stripComments(s"""// $call("x")""")))
    val tmpdir = "\"java.io." + "tmpdir\""
    assert(fixedTmpPath.findFirstIn("val d = s\"${System.getProperty(" + tmpdir + ")}/x\"").isDefined)
    assert(fixedTmpPath.findFirstIn("val d = s\"${sys.props(" + tmpdir + ")}/x\"").isDefined)
    assert(fixedTmpPath.findFirstIn("val t = sys.props(" + tmpdir + ")").isEmpty)
    val tests = scalaSources("src/test/scala").toSeq
    val leaving = tests.collect { case (path, text) if leavesTempDir(path, text) => path }.sorted
    val fixed = tests.collect { case (path, text) if fixedTmpPath.findFirstIn(text).isDefined => path }.sorted
    assert(leaving.isEmpty && fixed.isEmpty,
      s"temp directories nothing deletes (use GraftBridge.tempDir) made in: ${leaving.mkString(", ")}; " +
        s"fixed paths under java.io.tmpdir built in: ${fixed.mkString(", ")}")
  }

  test("configuration reads: no spark.graft.* key, and the environment is read only by the mains") {
    // controls
    val key = "\"spark.graft.x\""
    assert(configFault("src/main/scala/graft/X.scala", s"conf.get($key, \"0\")").isDefined)
    assert(configFault("src/main/scala/graft/X.scala", "sys.env.get(\"A\")").isDefined)
    assert(configFault("src/main/scala/graft/X.scala", "System.getenv(\"A\")").isDefined)
    assert(configFault("src/main/scala/graft/Bench.scala", "sys.env.get(\"A\")").isEmpty)
    assert(configFault("src/main/scala/graft/X.scala", stripComments(s"// conf.get($key)")).isEmpty)
    val faults = sources.toSeq.flatMap { case (path, text) =>
      configFault(path, text).map(why => s"$path ($why)")
    }.sorted
    assert(faults.isEmpty, s"configuration read outside the mains in: ${faults.mkString(", ")}")
  }
}
