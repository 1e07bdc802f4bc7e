package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Iceberg-shaped snapshot store over Parquet + an atomic manifest
  * (SURVEY.md §7.6): no Iceberg runtime jar exists in this sandbox, so the
  * semantics the north_rule needs — atomic multi-table commit per round,
  * resume from the latest snapshot, per-round lineage — are provided by a
  * manifest file swapped into place with a filesystem rename. A real
  * Iceberg catalog is a drop-in binding (same commit/latest contract) when
  * the jar exists.
  *
  * Layout:
  *   root/rounds/r000N/<table>/   parquet data, written BEFORE the commit
  *   root/manifests/manifest-r000N.json
  *                                one per round:
  *                                {"round": N,
  *                                 "tables": {name: path},
  *                                 "rows": {name: row-count bound}}
  *   root/_tmp/                   in-flight writes; orphans are ignored by
  *                                resume (FIXTURES.md §6 kill/restart)
  *
  * Manifest paths under the root are stored RELATIVE to it (each element
  * of a ';'-joined list separately) and resolved against the store's root
  * when read, so a store directory can be moved or renamed and still
  * resumes; [[Snapshot.tables]] always holds resolved paths. A manifest
  * without "rows" (or a table without an entry) means "row count unknown".
  *
  * Reference analog: resumable progress via find_last_saved_page
  * (/root/reference/src/handler.py:553-599) — but file-per-doc scans are
  * replaced by columnar snapshots.
  */
object FrontierStore {
  /** `rows`: for each table committed with one, an upper bound on its row
    * count observed at commit time (exact for the crawl's frontier).
    */
  final case class Snapshot(round: Int, tables: Map[String, String],
      rows: Map[String, Long] = Map.empty)

  /** Target rows per Parquet file of a committed table: a table committed
    * with a row-count bound `n` is coalesced to `ceil(n / RowsPerFile)`
    * files. 2^16 rows puts the widest table, extracted page text at 2-6 KB
    * a row, at about 128-400 MB a file, and every table of a fixture-sized
    * round in one file.
    */
  val RowsPerFile: Long = 1L << 16

  /** Tables that exist only as seen-set parts: compaction output and the
    * per-round `seen_delta` key tables of stores written before the seen
    * parts became the rounds' `scheduled` tables.
    */
  val SeenOnlyTables: Set[String] = Set("seen_delta", "seen_compacted")
}

final class FrontierStore(spark: SparkSession, root: String) {
  import FrontierStore.Snapshot

  private val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new Path(root, "manifests")
  private def manifestPath(round: Int) = new Path(manifestDir, f"manifest-r$round%05d.json")
  private def roundDir(round: Int) = new Path(root, f"rounds/r$round%05d")

  /** Deterministic data path for a table of a round (known pre-commit, so
    * callers can record cross-round path lists like seen-set deltas).
    */
  def tablePath(round: Int, name: String): String =
    new Path(roundDir(round), name).toString

  /** Write all tables for `round`, then atomically publish the manifest:
    * [[write]] followed by [[publish]]. A table with an entry in `rows` (a
    * row-count bound known before the write) is written as
    * `ceil(rows / RowsPerFile)` files and its bound recorded in the
    * manifest; the others keep their partitioning. A caller whose tables
    * come in waves (a later wave's bound known only after an earlier one)
    * calls the two directly, writing each wave before the one publish.
    */
  def commit(round: Int, tables: Map[String, DataFrame],
      aliases: Map[String, String] = Map.empty,
      rows: Map[String, Long] = Map.empty): Snapshot =
    publish(round, write(round, tables, rows), aliases, rows)

  /** Write `tables` under `round`'s directory as CONCURRENT Spark jobs (they
    * are independent, so a wave pays about one job latency instead of
    * |tables|) and return each table's path. Nothing is published: until
    * [[publish]] names them, the written directories are orphans that
    * resume ignores.
    *
    * File sizing: `bounds` gives, for any table, an upper bound on its row
    * count that the caller knows before the write (no counting job here).
    * Such a table is coalesced to `ceil(bound / RowsPerFile)` files; a
    * table without one keeps its partitioning, one file per partition. The
    * coalesce narrows the whole stage that feeds the write, cache fills
    * included: a table over unfilled caches computes them in at most that
    * many tasks, so a round of fewer than `RowsPerFile` rows per shuffle
    * partition runs its fetch and extract in fewer tasks than partitions.
    * A frame over caches stays recomputable: a lost task or executor
    * re-runs from lineage, and a failed write fails the commit before any
    * publish.
    */
  def write(round: Int, tables: Map[String, DataFrame],
      bounds: Map[String, Long] = Map.empty): Map[String, String] = {
    val dir = roundDir(round)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.{Failure, Success}
    val writes = tables.toSeq.map { case (name, df) =>
      val p = new Path(dir, name).toString
      val sized = bounds.get(name).flatMap(Sizing.units(_, FrontierStore.RowsPerFile))
        .fold(df)(df.coalesce)
      Future { sized.write.mode(SaveMode.Overwrite).parquet(p); name -> p }
    }
    // gather EVERY future before returning or throwing: if one write fails
    // while siblings are still in flight, an immediate re-commit of the same
    // round must not race two Overwrite jobs on the same paths — so lift to
    // Try (Future.sequence over Trys never short-circuits), await all, then
    // surface the first failure
    val settled = Await.result(
      Future.sequence(writes.map(_.transform(t => Success(t)))), Duration.Inf)
    settled.collectFirst { case Failure(e) => e }.foreach(e => throw e)
    settled.collect { case Success(kv) => kv }.toMap
  }

  /** Atomically publish `round`'s manifest over tables already written
    * (`written`: name -> path, as [[write]] returns). Manifests are
    * VERSIONED (manifest-r000N.json, one per round, never deleted):
    * publishing is a tmp-write + rename of a brand-new file, so a crash at
    * any instant leaves every previously published manifest intact and
    * `latest()` (max round) still resumes correctly — no delete-then-rename
    * window. Re-committing the same round after a crash overwrites only
    * that round's own manifest. `aliases` are extra manifest entries whose
    * values are path strings (possibly ';'-joined lists) — e.g. the seen
    * set's part list. `rows` records, under the manifest's "rows", a
    * row-count bound per written table (exact for the crawl's frontier);
    * negative entries are dropped.
    *
    * The published manifest is
    * `{"round": N, "tables": {name: path}, "rows": {name: bound}}`, table
    * and alias paths under the root written relative to it.
    */
  def publish(round: Int, written: Map[String, String],
      aliases: Map[String, String] = Map.empty,
      rows: Map[String, Long] = Map.empty): Snapshot = {
    val snap = Snapshot(round, written ++ aliases,
      rows.filter { case (name, n) => n >= 0L && written.contains(name) })
    val tmp = new Path(root, s"_tmp/manifest-$round.json")
    fs.mkdirs(tmp.getParent)
    fs.mkdirs(manifestDir)
    val out = fs.create(tmp, true)
    out.write(renderManifest(snap).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val target = manifestPath(round)
    // only this round's manifest may be replaced (idempotent re-commit)
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"commit rename failed for round $round")
    snap
  }

  /** Latest committed snapshot = the max-round manifest, ignoring any
    * orphan _tmp/rounds data and any half-written tmp manifests.
    */
  def latest(): Option[Snapshot] = {
    if (!fs.exists(manifestDir)) return None
    val ManifestName = """manifest-r(\d+)\.json""".r
    val rounds = fs.listStatus(manifestDir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(r) => Some(r.toInt)
        case _ => None
      }
    }
    if (rounds.isEmpty) None
    else {
      val snap = parseManifest(readFully(manifestPath(rounds.max)))
      Some(snap.copy(tables = snap.tables.map { case (k, v) => k -> resolve(v) }))
    }
  }

  private def readFully(p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** A committed table. With `schema` (the written frame's) the read is
    * planned without opening a file; without it Spark infers the schema
    * with a one-task job.
    */
  def read(snapshot: Snapshot, table: String,
      schema: Option[StructType] = None): DataFrame =
    schema.foldLeft(spark.read)(_.schema(_)).parquet(snapshot.tables(table))

  /** Best-effort GC of seen parts a compaction just folded, which the
    * LATEST manifest no longer lists. Only seen-only tables go
    * ([[FrontierStore.SeenOnlyTables]]): a folded round table such as
    * `scheduled` stays, because the round's schedule is read from it.
    * Resume always reads the newest manifest, so deleting these is safe; a
    * crash mid-delete just leaves ignorable orphans. Without it, compaction
    * bounds the manifest part LIST but folded dirs accumulate on disk
    * forever (a 10^4-round crawl leaks 10^4 dirs).
    */
  def gcFoldedSeenParts(paths: Seq[String]): Unit =
    paths.filter(p => FrontierStore.SeenOnlyTables(new Path(p).getName)).foreach { p =>
      try fs.delete(new Path(p), true)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Resume-time sweep for the seen-part compaction: a crash between a
    * compacting commit's manifest publish and its [[gcFoldedSeenParts]]
    * call leaves the folded dirs orphaned FOREVER (no future gc names them
    * — the new manifest no longer references them). Reclaims every
    * rounds/✱/<seen-only table> dir the given part list does not
    * reference. Paths are compared normalized (the filesystem lists
    * qualified URIs while manifests store plain paths).
    */
  def gcUnreferencedSeenParts(referenced: Set[String]): Unit = {
    val roundsDir = new Path(root, "rounds")
    if (!fs.exists(roundsDir)) return
    def norm(p: Path): String = fs.makeQualified(p).toUri.getPath
    val ref = referenced.map(s => norm(new Path(s)))
    fs.listStatus(roundsDir).foreach { rd =>
      FrontierStore.SeenOnlyTables.foreach { t =>
        val p = new Path(rd.getPath, t)
        try {
          if (fs.exists(p) && !ref.contains(norm(p))) fs.delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** J7 keyed upsert against the latest snapshot: the new version of
    * `table` = latest version with `updates` merged by `key` (replaced
    * where matched, appended where new). Include the result in the next
    * commit() — the snapshot mechanics stay append-only + atomic, matching
    * an Iceberg MERGE-produced snapshot. Reference analog: the id-field
    * re-index of fix_id_mapping.py:85-207.
    */
  def mergedWithLatest(table: String, updates: DataFrame, key: String): DataFrame =
    latest() match {
      case Some(snap) if snap.tables.contains(table) =>
        graft.ops.Merge.upsertByKey(read(snap, table), updates, key)
      case _ => updates
    }

  // paths under the root are written relative to it; `resolve` undoes
  // that against THIS store's root, and leaves absolute paths as they are
  private val rootPath = new Path(root)
  private val rootPrefix = rootPath.toString.stripSuffix("/") + "/"
  private def eachPath(paths: String)(f: String => String): String =
    paths.split(";", -1).map(f).mkString(";")
  private def relativize(paths: String): String =
    eachPath(paths)(p => if (p.startsWith(rootPrefix)) p.substring(rootPrefix.length) else p)
  private def resolve(paths: String): String =
    eachPath(paths)(p => if (p.isEmpty || new Path(p).isAbsolute) p else new Path(rootPath, p).toString)

  // minimal flat JSON (round, name→path map, name→rows map) — no external
  // JSON dep needed
  private def renderManifest(s: Snapshot): String = {
    val tables = s.tables.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(relativize(v))}"""" }.mkString(", ")
    val rows = s.rows.toSeq.sortBy(_._1)
      .map { case (k, n) => s""""${esc(k)}": $n""" }.mkString(", ")
    s"""{"round": ${s.round}, "tables": {$tables}, "rows": {$rows}}"""
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private val RoundRe = """"round"\s*:\s*(\d+)""".r
  private val EntryRe = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  private val RowsRe = """"rows"\s*:\s*\{([^}]*)\}""".r
  private val RowEntryRe = """"((?:[^"\\]|\\.)*)"\s*:\s*(-?\d+)""".r

  // "tables" entries are the string-valued pairs after the "tables" key
  // (the numeric "rows" entries never match EntryRe)
  private def parseManifest(json: String): Snapshot = {
    val round = RoundRe.findFirstMatchIn(json).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"bad manifest: $json"))
    val tablesPart = json.substring(json.indexOf("\"tables\""))
    val tables = EntryRe.findAllMatchIn(tablesPart).collect {
      case m if m.group(1) != "tables" => unesc(m.group(1)) -> unesc(m.group(2))
    }.toMap
    val rows = RowsRe.findFirstMatchIn(json).toSeq.flatMap { m =>
      RowEntryRe.findAllMatchIn(m.group(1)).map(e => unesc(e.group(1)) -> e.group(2).toLong)
    }.toMap
    Snapshot(round, tables, rows)
  }

  private def unesc(s: String): String = s.replace("\\\"", "\"").replace("\\\\", "\\")
}
