package graft.engine

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}

/** Everything the engine remembers about one session, in one record — the
  * analog of the reference's single DuckDB instance and connection (its
  * `src/duckdb.ts:14-49`). `EngineState.of(spark)` is the only way in;
  * no other file keeps a map keyed by `SparkSession` (EngineStateSpec
  * scans `src/main` for one).
  *
  * Lock rules:
  *  - `EngineState.of` is one synchronized `WeakHashMap` lookup-or-insert.
  *  - The catalog maps, the prepared statements and the memos are
  *    `TrieMap`s: single-key operations are atomic and take no lock
  *    (Catalog's name claims rely on `putIfAbsent`). Under a race `memo`
  *    may run `build` twice; one result is kept.
  *  - The PRIMARY KEY registry and its per-name generations share one
  *    monitor, this object's, held for the whole body of every `pk*`
  *    method: a check and the write it guards never interleave with
  *    another registry write, and callers never lock by hand.
  *    `pkValidated`'s check runs under it and must not re-enter the
  *    registry.
  *
  * Retention: the session table's keys are weak, which frees a session's
  * state only once nothing else holds the session. Probe: 40 `System.gc()`
  * rounds in local mode, one fresh `newSession()` per case. Sessions that
  * ran `Engine.sql("SELECT 1")`, `PREPARE`, a temp-view query or a
  * quoted-path query were collected. One that ran `Catalog.importFolder`
  * stayed reachable from Spark itself; one holding a `memoPersist` entry
  * stays reachable through the memo's `Dataset`, which refers to its
  * session. So a session that imported a folder or built a declared
  * query keeps its state until the SparkContext stops.
  */
final class EngineState private {

  // --- Catalog's auto-registered path-table views

  /** Auto-registered view name → the path (or table-function key) that
    * owns it; `pathView` is the reverse binding. */
  private[engine] val viewOwner = TrieMap.empty[String, String]
  private[engine] val pathView = TrieMap.empty[String, String]
  /** Raw registered path → resolved filesystem location. The reference
    * registers files under their RELATIVE import paths and its generated
    * `read_parquet([...])` DDL names those same paths
    * (the reference's `src/App.tsx:316-327`); this resolves them back to
    * where the bytes live. */
  private[engine] val pathLocation = TrieMap.empty[String, String]
  /** View name → fingerprint of its paths at registration (see
    * `Catalog.pathStamp`). A view snapshots its file LISTING, and a
    * reference user COPYs over a path and re-reads it in the next
    * statement (DuckDB re-lists per call): a changed fingerprint
    * re-registers the view, an unchanged one serves it. */
  private[engine] val viewStamp = TrieMap.empty[String, String]
  /** Names the USER claimed with their own DDL: a later quoted-path
    * registration takes a suffixed name instead of clobbering them. */
  private[engine] val userClaimed = TrieMap.empty[String, Unit]

  /** PREPAREd statements: lowercase name → raw statement text. */
  private[engine] val prepared = TrieMap.empty[String, String]

  // --- PRIMARY KEY registry (EngineDml's PK block); guarded by `this`

  /** Registry name (`pkName`) → key columns in the declared spelling. */
  private val pks = mutable.HashMap.empty[String, Seq[String]]
  /** Registry name → registration count, bumped by every registration
    * (a move-in included); see `pkRetireIfUnchanged`. */
  private val pkGens = mutable.HashMap.empty[String, Long]

  /** Current generation of `name` (0 = never registered). */
  private[engine] def pkGen(name: String): Long =
    synchronized { pkGens.getOrElse(name, 0L) }

  /** The key registered for `name` when `valid` accepts it; a rejected
    * entry is dropped in the same critical section. */
  private[engine] def pkValidated(name: String)(
      valid: Seq[String] => Boolean): Option[Seq[String]] = synchronized {
    pks.get(name).flatMap { keys =>
      if (valid(keys)) Some(keys) else { pks.remove(name); None }
    }
  }

  /** Register `keys` for `name` (bumping its generation), or clear the
    * name's entry when there are none. */
  private[engine] def pkRegister(
      name: String, keys: Option[Seq[String]]): Unit = synchronized {
    keys match {
      case Some(k) =>
        pks.update(name, k)
        pkGens.update(name, pkGens.getOrElse(name, 0L) + 1L)
      case None => pks.remove(name)
    }
    ()
  }

  /** Move `from`'s entry to `to` (a registration of `to`); with no entry
    * under `from`, `to`'s entry is cleared. */
  private[engine] def pkMove(from: String, to: String): Unit =
    synchronized { pkRegister(to, pks.remove(from)) }

  /** A renamed key column follows in `name`'s entry. */
  private[engine] def pkRenameColumn(
      name: String, from: String, to: String): Unit = synchronized {
    pks.get(name).foreach { keys =>
      pks.update(name, keys.map(k => if (k.equalsIgnoreCase(from)) to else k))
    }
  }

  /** Drop `name`'s entry unless it was registered since generation `gen`
    * was read: the compare and the remove are one critical section, so a
    * registration that lands after the compare cannot be removed. */
  private[engine] def pkRetireIfUnchanged(name: String, gen: Long): Unit =
    synchronized {
      if (pkGens.getOrElse(name, 0L) == gen) pks.remove(name)
      ()
    }

  // --- memos of the declared-query layer (graft.queries)

  private val memos = TrieMap.empty[(String, String), Any]

  /** `build`, computed once per (testdata dir, name) in this session.
    * Names are namespaced by the kind of value — `table/`, `view/`,
    * `persist/`, `layout/`, `loaded/`, `stats/`, `checkpoint/` — so two
    * owners never share a key (`Tables.t(…, "orders")` and the `orders`
    * layout both say `orders`). One name always holds one value type. */
  private[graft] def memo[A](dir: String, name: String)(build: => A): A =
    memos.getOrElseUpdate((dir, name), build).asInstanceOf[A]

  /** Forget one memo so the next `memo` call rebuilds it; a `Dataset`
    * value is unpersisted. */
  private[graft] def dropMemo(dir: String, name: String): Unit =
    memos.remove((dir, name)).foreach {
      case d: Dataset[_] => d.unpersist(); ()
      case _ => ()
    }
}

object EngineState {
  private val states = new java.util.WeakHashMap[SparkSession, EngineState]()

  /** This session's state, created on first use. */
  def of(spark: SparkSession): EngineState = states.synchronized {
    states.computeIfAbsent(spark, _ => new EngineState)
  }
}
