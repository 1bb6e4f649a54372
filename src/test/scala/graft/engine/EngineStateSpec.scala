package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `EngineState` is the engine's one per-session record: every fact the
  * engine remembers about a session is visible to that session only, and
  * no other file under `src/main` keeps a map keyed by the session. */
class EngineStateSpec extends AnyFunSuite {

  private lazy val base = graft.TestSpark.spark
  private val csv = "src/test/resources/minifix/mini.csv"

  test("EngineState.of gives one record per session") {
    val (a, b) = (base.newSession(), base.newSession())
    assert(EngineState.of(a) eq EngineState.of(a))
    assert(!(EngineState.of(a) eq EngineState.of(b)))
  }

  test("a declared PRIMARY KEY is per session") {
    val (a, b) = (base.newSession(), base.newSession())
    val t = s"engine_state_pk_p${ProcessHandle.current.pid}"
    Engine.sql(a, s"DROP TABLE IF EXISTS $t")
    try {
      Engine.sql(a, s"CREATE TABLE $t (k INT PRIMARY KEY, v INT)")
      assert(Engine.pkOf(a, t).contains(Seq("k")))
      // the table is in the shared catalog; the key is not
      assert(b.catalog.tableExists(t))
      assert(Engine.pkOf(b, t).isEmpty)
    } finally Engine.sql(a, s"DROP TABLE IF EXISTS $t")
  }

  test("a PREPAREd name is per session") {
    val (a, b) = (base.newSession(), base.newSession())
    Engine.sql(a, "PREPARE es_q AS SELECT $1 + 1 AS x")
    assert(Engine.sql(a, "EXECUTE es_q(41)").collect()(0).getInt(0) == 42)
    val e = intercept[IllegalArgumentException](
      Engine.sql(b, "EXECUTE es_q(41)"))
    assert(e.getMessage.contains("no prepared statement"))
  }

  test("isAutoRegisteredView after a quoted-path query is per session") {
    val (a, b) = (base.newSession(), base.newSession())
    val view = Catalog.viewNameFor(csv)
    assert(Engine.rewriteQueryText(a, s"SELECT * FROM '$csv'") ==
      s"SELECT * FROM $view")
    assert(Catalog.isAutoRegisteredView(a, view))
    assert(!Catalog.isAutoRegisteredView(b, view))
  }

  test("the _u suffix after a user CREATE VIEW is per session") {
    val (a, b) = (base.newSession(), base.newSession())
    def setView(s: org.apache.spark.sql.SparkSession): String =
      Engine.rewriteQueryText(s, s"SELECT * FROM read_csv('$csv')")
        .stripPrefix("SELECT * FROM ")
    val view = setView(a)
    Engine.sql(a, s"CREATE OR REPLACE TEMP VIEW $view AS SELECT 1 AS id")
    assert(setView(a) == s"${view}_u")
    assert(setView(b) == view)
  }

  test("a Tables.memoPersist entry is per session") {
    val (a, b) = (base.newSession(), base.newSession())
    val builds = new AtomicInteger
    def entry(s: org.apache.spark.sql.SparkSession) =
      graft.queries.Tables.memoPersist(s, "engine-state-spec", "probe") {
        builds.incrementAndGet()
        s.range(1).toDF()
      }
    val fromA = entry(a)
    assert((entry(a) eq fromA) && builds.get == 1)
    assert(!(entry(b) eq fromA) && builds.get == 2)
    Seq(a, b).foreach(
      EngineState.of(_).dropMemo("engine-state-spec", "persist/probe"))
  }

  test("8 threads PREPARE, EXECUTE and DEALLOCATE distinct names") {
    val s = base.newSession()
    val pool = Executors.newFixedThreadPool(8)
    try {
      val work = (0 until 8).map { t =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = {
            val names = (0 until 40).map(i => s"race_${t}_$i")
            // the alias is the name: EXECUTE must find this name's text
            names.foreach(n => Engine.sql(s, s"PREPARE $n AS SELECT $$1 AS $n"))
            val unresolved = names.filterNot(n =>
              Engine.sql(s, s"EXECUTE $n(1)").columns.sameElements(Seq(n)))
            val dropped = names.filter { n =>
              Engine.sql(s, s"DEALLOCATE $n")
              scala.util.Try(Engine.sql(s, s"DEALLOCATE $n")).isFailure
            }
            unresolved.map("unresolved " + _) ++
              names.diff(dropped).map("deallocated twice " + _)
          }
        })
      }
      assert(work.flatMap(_.get()).isEmpty)
      assert(EngineState.of(s).prepared.isEmpty)
    } finally pool.shutdown()
  }

  /** The first type argument of a declaration, read from just past `[`. */
  private def keyType(text: String, from: Int): String = {
    var (depth, i) = (0, from)
    while (i < text.length &&
        !(depth == 0 && (text(i) == ',' || text(i) == ']'))) {
      if (text(i) == '(' || text(i) == '[') depth += 1
      else if (text(i) == ')' || text(i) == ']') depth -= 1
      i += 1
    }
    text.substring(from, i)
  }

  private val mapDecl = """\b\w*Map\s*(?:\.\s*empty\s*)?\[""".r

  private def sessionKeyedMaps(p: Path): Seq[String] = {
    val text = Files.readString(p)
    mapDecl.findAllMatchIn(text).map(m => keyType(text, m.end))
      .filter(_.contains("SparkSession")).map(k => s"$p: [$k").toSeq
  }

  test("EngineState.scala declares the only SparkSession-keyed map") {
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val (own, rest) = files.partition(_.getFileName.toString ==
      "EngineState.scala")
    assert(own.flatMap(sessionKeyedMaps).size == 1)
    assert(rest.flatMap(sessionKeyedMaps).isEmpty)
  }
}
