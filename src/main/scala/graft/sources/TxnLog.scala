package graft.sources

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import scala.util.Try

/** Minimal versioned-manifest commit log over parquet — the
  * transactional-layout surface beside the engine's latest-wins
  * compaction (`upsert_latest`), SCD2 and CDC keys: snapshot-isolation
  * READS over concurrent appends, time travel, optimistic concurrency,
  * idempotent streaming commits and retention-bounded vacuum, with
  * nothing but a file system.
  *
  * Protocol (the Delta/Iceberg core, reduced to its invariants):
  *  - data files are immutable: each commit writes fresh parquet under
  *    `<table>/data/<uuid>/` and never touches prior files;
  *  - a SNAPSHOT is a manifest `<table>/_txnlog/<v>%05d.manifest` whose
  *    first line is a `#` metadata header (commit timestamp, operation,
  *    optional streaming batch id) and whose remaining lines list data
  *    files (one relative path per line). A `kind=full` manifest (the
  *    default when the token is absent) lists the COMPLETE snapshot; a
  *    `kind=delta` manifest lists only the files its commit ADDED on top
  *    of version v−1. Appends write deltas except at every
  *    [[checkpointInterval]]-th version (and v=1), which writes a full
  *    checkpoint — so commit text is O(new files) on the steady path and
  *    log storage is O(files × versions / interval), not
  *    O(files × versions) (the Iceberg manifest-list / Delta checkpoint
  *    idea reduced to this log's dense-version case). A reader resolves a
  *    snapshot by walking at most `interval` manifests back to the
  *    nearest checkpoint;
  *  - publish is atomic put-if-absent: the manifest is staged as
  *    `.tmp-<uuid>` and renamed via `FileContext.rename(src, dst,
  *    Options.Rename.NONE)` — the primitive Spark's
  *    `FileContextBasedCheckpointFileManager` uses for exactly this,
  *    because plain `FileSystem.rename` is NOT fail-on-exists on every
  *    implementation (Hadoop's LocalFileSystem silently overwrites). A
  *    half-written manifest is never visible and two writers cannot both
  *    claim a version on HDFS; object stores with overwrite-rename
  *    semantics still need a conditional PUT;
  *  - optimistic concurrency: every writer publishes through one commit
  *    loop ([[commitLoop]]); the loser of a rename race re-reads the
  *    latest snapshot and rebuilds its commit against it (append
  *    semantics compose; an overwrite simply re-claims the next slot);
  *  - snapshot isolation: [[read]] resolves a version ONCE and pins its
  *    file list into the returned DataFrame — commits that land afterward
  *    are invisible to it, and because data files are immutable, the
  *    pinned snapshot stays readable until [[vacuum]] drops its version.
  *    Round11Spec gates isolation, time travel, and a two-writer race;
  *  - exactly-once streaming: [[appendBatch]] stamps the micro-batch id
  *    into the manifest header and SKIPS ids already committed, so a
  *    restarted `foreachBatch` replaying its last batch cannot
  *    double-append (the Delta idempotent-writes `txnAppId`/`txnVersion`
  *    core). Idempotence is PER WRITER: each stream passes its own
  *    `appId` and gets its own monotone high-water (`batchHigh:<appId>`
  *    header tokens, carried forward in every manifest), so two
  *    legitimate streams can share one table, each replay-safe against
  *    its own batch ids. The default (empty) appId writes the bare
  *    `batchHigh` token, so single-stream tables keep the header spelling
  *    older logs have. StreamingSpec gates a kill-and-restart replay;
  *    Round14Spec gates two interleaved streams;
  *  - retention: [[vacuum]] keeps the newest `retain` manifests, deletes
  *    older ones plus every data file no retained manifest references —
  *    a pinned DataFrame at a retained version survives (its files stay),
  *    a read at a vacuumed version fails loudly (manifest gone).
  *
  * Scale shape: steady-state commits are O(new files) text (delta
  * manifests), checkpoints every [[checkpointInterval]] commits bound
  * snapshot resolution to ≤ interval manifest reads, and [[vacuum]]
  * materializes the oldest retained version into a checkpoint before
  * dropping its chain prefix — so a long-lived table's log stays
  * O(retained versions) manifests of which only ~1/interval are full
  * lists. At lake scale the full lists themselves shard further
  * (Iceberg manifest lists), but the protocol is unchanged; reads are
  * ordinary parquet scans over the pinned list, so pushdown/pruning
  * work untouched.
  */
object TxnLog {
  private def fs(s: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def logDir(table: String): Path = new Path(table, "_txnlog")
  private def manifestPath(table: String, v: Int): Path =
    new Path(logDir(table), f"$v%05d.manifest")

  // strict name gate: a stray non-numeric *.manifest (editor backup,
  // manual copy) must be ignored, not crash every read/append.
  // Variable-width match: manifestPath's %05d emits SIX digits at version
  // 100000 — a fixed \d{5} would make every manifest past 99999 invisible
  // to listVersions/latestVersion, so reads would silently miss the
  // newest commits and appends would spin forever re-claiming a "free"
  // slot the rename then refuses. Version order is always resolved
  // NUMERICALLY (toInt + max), never lexicographically.
  private val ManifestName = """^(\d{5,})\.manifest$""".r

  private def listVersions(f: FileSystem, table: String): Seq[Int] =
    if (!f.exists(logDir(table))) Nil
    else f.listStatus(logDir(table)).toSeq
      .map(_.getPath.getName)
      .flatMap {
        case ManifestName(d) => Try(d.toInt).toOption
        case _ => None
      }

  /** Highest published version, or None for an uninitialized table. */
  def latestVersion(s: SparkSession, table: String): Option[Int] = {
    val vs = listVersions(fs(s, table), table)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** The latest version of a table that must have one. */
  private def headOf(s: SparkSession, table: String): Int =
    latestVersion(s, table).getOrElse(
      throw new IllegalStateException(s"$table has no committed snapshot"))

  /** Count of manifest reads this JVM — test instrumentation for the
    * O(log n) guarantees of [[versionAsOf]]/[[committedVersionOfBatch]]
    * (Round13Spec asserts a 1,000-version log resolves in ≤ ~2·log₂ n
    * header reads, not a full scan). */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  private def manifestLines(s: SparkSession, table: String, v: Int): Seq[String] = {
    manifestReads.incrementAndGet()
    val f = fs(s, table)
    val in = f.open(manifestPath(table, v))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    finally in.close()
  }

  /** Appends write `kind=delta` manifests (only the added files) except
    * at every interval-th version, which writes a full checkpoint list —
    * the bound on both per-commit text and snapshot-resolution depth.
    * 10 balances commit cost (a checkpoint re-lists the table every 10
    * commits) against read amplification (≤ 9 extra manifest reads,
    * each O(new files) text). */
  private[graft] val checkpointInterval = 10

  private def isCheckpointVersion(v: Int): Boolean =
    v == 1 || v % checkpointInterval == 0

  /** A manifest file line is
    * `path[\tstats:<col>=<min>:<max>:<rows>[:<nulls>]]...` — each
    * optional tab-suffixed token carries one column's per-file
    * data-skipping stats ([[appendWithStats]]); N stats'd columns mean N
    * tokens on the line. `<min>`/`<max>` are EMPTY when the file has no
    * non-null value for the column (min/max of nothing — such a file can
    * never match a range probe); `<nulls>` is the file's null count for
    * the column (absent on three-field tokens, which read as
    * nulls-unknown → null probes keep the file). Everything that wants a
    * PATH must strip at the first tab; stats-aware readers parse the
    * suffixes. */
  private[graft] def pathOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** One column's per-file stats: [min, max] over the NON-NULL values
    * (None/None for a file whose column is entirely null), total row
    * count, and the column's null count (None on three-field tokens —
    * unknown, so null-probes must keep the file). */
  private[graft] final case class FileStats(
      mn: Option[Long], mx: Option[Long], rows: Long, nulls: Option[Long])

  /** The `part:<col>=<value>` token of a partitioned manifest line
    * ([[appendPartitioned]]): the file's Hive-style partition column and
    * directory-fragment value. None on unpartitioned lines. */
  private[graft] def partTokenOf(line: String): Option[(String, String)] = {
    val i = line.indexOf('\t')
    if (i < 0) return None
    line.substring(i + 1).split("\t").collectFirst {
      case t if t.startsWith("part:") && t.indexOf('=') > 5 =>
        val eq = t.indexOf('=')
        (t.substring("part:".length, eq), t.substring(eq + 1))
    }
  }

  /** Hive's directory fragment for a null partition value. */
  private val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"

  /** `statsCol`'s [[FileStats]] parsed from a manifest line's stats
    * suffix; None when the line carries no stats token for that column
    * (the reader must then keep the file — correctness before pruning).
    *
    * A PARTITION token doubles as degenerate stats: a file under
    * `<col>=<v>` holds exactly the value v in that column, so its stats
    * are min = max = v with zero nulls (or all-null for Hive's default
    * partition) — which makes partition pruning fall out of the same
    * metadata pass as min/max skipping, for reads AND for DML
    * file-touch/conflict analysis. Partition-derived stats carry
    * rows = -1 (count unknown; no pruning decision reads it). Non-numeric
    * partition values yield no range stats (kept — correct superset). */
  private[graft] def fileStatsOf(line: String, statsCol: String)
      : Option[FileStats] = {
    val i = line.indexOf('\t')
    if (i < 0) return None
    line.substring(i + 1).split("\t").collectFirst {
      case t if t.startsWith(s"stats:$statsCol=") =>
        // limit -1: keep trailing empty fields ("::5:5" = all-null file)
        t.substring(s"stats:$statsCol=".length).split(":", -1) match {
          case Array(mn, mx, n) => // three-field token: no null count
            Try(FileStats(Some(mn.toLong), Some(mx.toLong), n.toLong,
              None)).toOption
          case Array(mn, mx, n, nl) =>
            Try(FileStats(
              if (mn.isEmpty) None else Some(mn.toLong),
              if (mx.isEmpty) None else Some(mx.toLong),
              n.toLong, Some(nl.toLong))).toOption
          case _ => None
        }
    }.flatten.orElse {
      partTokenOf(line) match {
        case Some((c, v)) if c == statsCol =>
          if (v == HiveNullPart) Some(FileStats(None, None, -1L, Some(1L)))
          else Try(v.toLong).toOption
            .map(x => FileStats(Some(x), Some(x), -1L, Some(0L)))
        case _ => None
      }
    }
  }

  /** The columns a manifest line carries stats tokens for. */
  private[graft] def statsColsOf(line: String): Seq[String] = {
    val i = line.indexOf('\t')
    if (i < 0) return Nil
    line.substring(i + 1).split("\t").toSeq.collect {
      case t if t.startsWith("stats:") && t.contains('=') =>
        t.substring("stats:".length, t.indexOf('='))
    }
  }

  /** The DELETION-VECTOR sidecar paths of a manifest line
    * ([[deleteWhereMoR]]): each `dv:<rel>` token names a parquet of
    * (fname, idx) row positions deleted from this line's file without
    * rewriting it. Successive merge-on-read deletes APPEND tokens; the
    * reader applies their union. */
  private[graft] def dvTokensOf(line: String): Seq[String] = {
    val i = line.indexOf('\t')
    if (i < 0) return Nil
    line.substring(i + 1).split("\t").toSeq.collect {
      case t if t.startsWith("dv:") => t.substring("dv:".length)
    }
  }

  /** Can the line's file hold a row with `c` in [lo, hi]? The one
    * file-touch test of range reads and range DML. No stats token → yes
    * (pruning is only ever a correct superset); stats with empty min/max
    * → the file has no non-null value for `c`, and NULL never matches a
    * range → provably no. */
  private def mayHold(c: String, lo: Long, hi: Long)(line: String): Boolean =
    fileStatsOf(line, c) match {
      case None => true
      case Some(FileStats(Some(mn), Some(mx), _, _)) => mx >= lo && mn <= hi
      case Some(_) => false // all-null column: a range never matches NULL
    }

  /** The file lines the manifest at `v` ITSELF lists (a delta manifest:
    * only that commit's added files; a full checkpoint: the whole
    * snapshot) — the log-shape audit surface. [[snapshotFiles]] is the
    * RESOLVED snapshot. */
  def listedFiles(s: SparkSession, table: String, v: Int): Seq[String] =
    manifestLines(s, table, v).filterNot(_.startsWith("#")).map(pathOf)

  /** The resolved FULL LINES of snapshot `v` (paths + any stats
    * suffixes) — what checkpoint re-listing, restore, and the skipping
    * reader consume so stats survive every manifest rewrite. */
  private[graft] def snapshotLines(s: SparkSession, table: String,
      v: Int): Seq[String] = {
    var cur = v
    var acc: List[Seq[String]] = Nil
    while (true) {
      val lines = manifestLines(s, table, cur)
      acc = lines.filterNot(_.startsWith("#")) :: acc
      if (!parseInfo(lines).get("kind").contains("delta"))
        return acc.flatten
      cur -= 1
    }
    Nil // unreachable
  }

  /** The file list of snapshot `v` (relative to the table root) —
    * resolved across delta manifests: walk back from `v` collecting each
    * delta's added files until the nearest full checkpoint (a delta's
    * base is always exactly v−1 by construction; the walk is ≤
    * [[checkpointInterval]] reads on any log this code wrote). A broken
    * chain (base manifest vacuumed or missing) fails loudly with the
    * missing file, never a silent partial list. */
  def snapshotFiles(s: SparkSession, table: String, v: Int): Seq[String] =
    snapshotLines(s, table, v).map(pathOf)

  private def parseInfo(lines: Seq[String]): Map[String, String] =
    lines.filter(_.startsWith("#"))
      .flatMap(_.drop(1).trim.split("\\s+"))
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, value) => Some(k -> value)
          case _ => None
        }
      }.toMap

  /** The commit metadata of snapshot `v`: ts (epoch millis), op
    * (append/overwrite/...), optional batchId. Headerless manifests
    * return an empty map — such tables stay readable. */
  def commitInfo(s: SparkSession, table: String, v: Int): Map[String, String] =
    parseInfo(manifestLines(s, table, v))

  /** The commit timestamp of a parsed header; None when headerless. */
  private def tsOf(info: Map[String, String]): Option[Long] =
    info.get("ts").flatMap(t => Try(t.toLong).toOption)

  /** One commit as [[commitLoop]] publishes it: the manifest's file
    * lines and header fields. `highs` are the writer-app batch
    * high-waters the header carries forward; `delta` marks a manifest
    * that lists only the commit's added files. */
  private final case class Commit(lines: Seq[String], op: String,
      highs: Map[String, Long], delta: Boolean = false,
      batchId: Option[Long] = None, appId: String = "")

  /** Copy-on-write rewrites give up after this many lost publish races:
    * a table hot enough to lose 10 straight races should schedule its DML
    * in a maintenance window instead of spinning (Delta's own retry bound
    * shape). Appends, overwrites and restores retry until they win. */
  private val CowMaxAttempts = 10

  /** The commit loop every writer publishes through. Each attempt
    * resolves the head and its header and asks `decide` for the commit
    * to stack on it — or for a version to return without publishing (a
    * replayed batch). The commit is published as EXACTLY head + 1; a lost
    * race re-resolves the head and decides again, because claiming a
    * later slot with the stale base would silently drop the winner's
    * commit. The commit ts is clamped to max(now, head ts + 1): wall
    * clocks are not monotone across writers, and [[versionAsOf]]'s binary
    * search (like Delta's timestampAsOf) requires ts non-decreasing in
    * version — the adjustment Delta applies to out-of-order commit
    * timestamps. `maxAttempts` is the op's retry policy. */
  private def commitLoop(s: SparkSession, table: String,
      maxAttempts: Int = Int.MaxValue)(
      decide: (Option[Int], Map[String, String]) => Either[Int, Commit]): Int = {
    @annotation.tailrec
    def attempt(n: Int): Int = {
      val base = latestVersion(s, table)
      val info = base.map(commitInfo(s, table, _)).getOrElse(Map.empty)
      decide(base, info) match {
        case Left(v) => v
        case Right(c) =>
          val target = base.getOrElse(0) + 1
          val ts = math.max(System.currentTimeMillis(),
            tsOf(info).map(_ + 1).getOrElse(0L))
          if (tryPublish(s, table, target, c, ts)) target
          else if (n >= maxAttempts)
            throw new IllegalStateException(
              s"${c.op} on $table lost the publish race $n times; giving " +
                "up (nothing was published) — schedule it when the table is " +
                "quieter")
          else attempt(n + 1)
      }
    }
    attempt(1)
  }

  /** Stage `text` as a `.tmp-<uuid>` file in the log directory. A failed
    * write removes its staging file — the half-written tmp would
    * otherwise sit in _txnlog forever. */
  private def stage(f: FileSystem, table: String, text: String): Path = {
    f.mkdirs(logDir(table))
    val tmp = new Path(logDir(table), s".tmp-${java.util.UUID.randomUUID()}")
    try {
      val out = f.create(tmp, false)
      try out.write(text.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch {
      case e: Throwable => f.delete(tmp, false); throw e
    }
    tmp
  }

  private def renameInLog(s: SparkSession, table: String, tmp: Path, v: Int,
      mode: Options.Rename): Unit =
    FileContext.getFileContext(logDir(table).toUri,
      s.sparkContext.hadoopConfiguration)
      .rename(tmp, manifestPath(table, v), mode)

  /** Try to publish `c` as EXACTLY version `v`: stage, then
    * rename-no-overwrite. False means a concurrent writer claimed `v`. */
  private def tryPublish(s: SparkSession, table: String, v: Int, c: Commit,
      ts: Long): Boolean = {
    val f = fs(s, table)
    val header = s"# ts=$ts op=${c.op}" +
      (if (c.delta) " kind=delta" else "") +
      c.batchId.map(b => s" batchId=$b").getOrElse("") +
      (if (c.appId.nonEmpty) s" appId=${c.appId}" else "") +
      c.highs.toSeq.sortBy(_._1).map { case (k, h) => s" $k=$h" }.mkString
    val tmp = stage(f, table, header + "\n" + c.lines.mkString("\n") + "\n")
    // put-if-absent: FileContext.rename with Rename.NONE fails when the
    // destination exists — portable where FileSystem.rename is not
    // (LocalFileSystem overwrite-renames)
    val won =
      try { renameInLog(s, table, tmp, v, Options.Rename.NONE); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        // Ambiguous IOException: some filesystems report the lost race
        // only as a generic IOException whose message mentions "exists" —
        // but so do GENUINE failures ("parent directory ... does not
        // exist", "rename source ... does not exist"). Misreading one of
        // those as a lost race would send the caller's retry loop
        // spinning forever. Confirm the race by checking the destination:
        // lost ⟺ the manifest is actually there; otherwise rethrow.
        case e: java.io.IOException
            if e.getMessage != null &&
               e.getMessage.toLowerCase.contains("exists") =>
          if (f.exists(manifestPath(table, v))) false else throw e
      }
    if (!won) f.delete(tmp, false)
    won
  }

  /** Every parquet file under `dir` with its table-relative path (`rel`
    * is `dir`'s), walked recursively: partitioned commits nest their
    * files one Hive directory deeper
    * (`data/<uuid>/<col>=<value>/part-*.parquet`). */
  private def parquetUnder(f: FileSystem, dir: Path, rel: String)
      : Seq[(FileStatus, String)] =
    f.listStatus(dir).toSeq.flatMap { st =>
      val r = s"$rel/${st.getPath.getName}"
      if (st.isDirectory) parquetUnder(f, st.getPath, r)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st -> r)
      else Nil
    }

  /** Run `write` on a fresh immutable `<root>/<uuid>` directory and
    * return the table-relative paths of the parquet files it left. */
  private def writeFresh(s: SparkSession, table: String, root: String)(
      write: String => Unit): Seq[String] = {
    val sub = s"$root/${java.util.UUID.randomUUID()}"
    write(s"$table/$sub")
    parquetUnder(fs(s, table), new Path(table, sub), sub).map(_._2)
  }

  /** Write `df` as a fresh immutable data directory; returns the new
    * files' table-relative paths. */
  private def writeData(s: SparkSession, table: String, df: DataFrame)
      : Seq[String] =
    writeFresh(s, table, "data")(df.write.parquet)

  /** Write `df` Hive-partitioned by `partCol` under a fresh immutable
    * data directory (`data/<uuid>/<partCol>=<value>/part-*.parquet`);
    * returns (table-relative path, directory-fragment value) per file. */
  private def writeDataPartitioned(s: SparkSession, table: String,
      df: DataFrame, partCol: String): Seq[(String, String)] =
    writeFresh(s, table, "data")(df.write.partitionBy(partCol).parquet)
      .map { rel =>
        val dirName = rel.split("/")(2) // "<partCol>=<value>"
        val v = dirName.substring(dirName.indexOf('=') + 1)
        require(!v.exists(ch => ch.isWhitespace || ch == ':'),
          s"partition value '$v' survives Hive escaping with " +
            "whitespace/':' — unsupported in manifest tokens")
        rel -> v
      }

  /** Attach `part:<col>=<value>` tokens to already-stats'd lines. */
  private def withPartTokens(lines: Seq[String], partCol: String,
      vals: Map[String, String]): Seq[String] =
    lines.map { ln =>
      val p = pathOf(ln)
      s"$p\tpart:$partCol=${vals(p)}${ln.substring(p.length)}"
    }

  /** [[append]] with a Hive-style PARTITION column: rows are written
    * under `<partCol>=<value>/` directories, each manifest line carries a
    * `part:` token naming its file's value, and because a partition token
    * reads as degenerate min=max stats ([[fileStatsOf]]), partition
    * pruning falls out of the SAME metadata pass as min/max skipping —
    * [[readSkipped]]/[[readSkippedMulti]] with a predicate on `partCol`
    * open only the matching partitions, [[deleteWhere]]/[[mergeInto]]
    * keyed on `partCol` rewrite only them, and the DML conflict analysis
    * can prove a concurrent partitioned append disjoint. `statsCols` adds
    * ordinary min/max stats on DATA columns within each file (the
    * partition column itself needs none — its token IS its stats).
    *
    * Readers restore the partition column from the directory layout
    * (per-commit `basePath` reads), typed by Spark's partition-value
    * inference. A partitioned table stays partitioned through
    * delete/merge/compact rewrites; mixing [[append]] and
    * [[appendPartitioned]] on one table is rejected at read time
    * (the snapshot's schema would be ambiguous). */
  def appendPartitioned(s: SparkSession, table: String, df: DataFrame,
      partCol: String, statsCols: String*): Int = {
    require(partCol.nonEmpty &&
        !partCol.exists(ch => ch.isWhitespace || ch == ':' || ch == '='),
      s"partCol '$partCol' must be non-empty and free of " +
        "whitespace/':'/'=' (it is embedded in manifest line tokens)")
    require(!statsCols.contains(partCol),
      s"partCol '$partCol' needs no stats column — its part token " +
        "already provides exact min=max stats")
    require(df.schema.fieldNames.contains(partCol),
      s"partCol '$partCol' not in schema " +
        s"(${df.schema.fieldNames.mkString(", ")})")
    validateStatsCols(df.schema, statsCols)
    val files = writeDataPartitioned(s, table, df, partCol)
    val lines = withPartTokens(
      statsLines(s, table, files.map(_._1), statsCols), partCol,
      files.toMap)
    appendFiles(s, table, lines, None)
  }

  // writer-app ids live as whitespace-delimited `batchHigh:<appId>=N`
  // header tokens, so an id must not contain whitespace, '=' or header
  // syntax; reject loudly instead of writing an unparseable manifest
  private val AppIdPattern = "^[A-Za-z0-9_.\\-]{1,64}$".r
  private[graft] def requireValidAppId(appId: String): Unit =
    require(appId.isEmpty || AppIdPattern.matches(appId),
      s"appId '$appId' must match ${AppIdPattern.regex} (it is embedded " +
        "in manifest header tokens)")

  /** Header key carrying `appId`'s batch high-water: the bare `batchHigh`
    * for the default (empty) appId — the spelling single-stream tables
    * have always had — `batchHigh:<appId>` otherwise. */
  private def highKey(appId: String): String =
    if (appId.isEmpty) "batchHigh" else s"batchHigh:$appId"

  /** ALL writer-app high-waters in a parsed header, keyed by header key. */
  private def highsOf(info: Map[String, String]): Map[String, Long] =
    info.collect {
      case (k, v) if k == "batchHigh" || k.startsWith("batchHigh:") =>
        Try(v.toLong).toOption.map(k -> _)
    }.flatten.toMap

  /** The log's batch-id high-water for writer `appId` at version `v` —
    * carried forward in EVERY manifest header (appends and overwrites
    * alike), so the latest manifest alone answers "was batch b already
    * committed by this writer?" in O(1) manifest reads instead of an
    * O(versions) scan (the Delta `txnAppId`/`txnVersion` map). None for
    * logs where this writer never committed (or headerless manifests). */
  def batchHighOf(s: SparkSession, table: String, v: Int,
      appId: String = ""): Option[Long] =
    commitInfo(s, table, v).get(highKey(appId))
      .flatMap(h => Try(h.toLong).toOption)

  private def appendFiles(s: SparkSession, table: String,
      newFiles: Seq[String], batchId: Option[Long],
      appId: String = ""): Int =
    commitLoop(s, table) { (base, info) =>
      val highs = highsOf(info)
      val hk = highKey(appId)
      // idempotence re-check on every attempt: if the lost race was
      // against a writer committing the SAME (appId, batch id) — a racing
      // restart of this stream — retrying would double-append: return the
      // winner's version instead. O(1): only the base header is read.
      if (batchId.exists(b => highs.get(hk).exists(b <= _)))
        Left(resolveReplayedBatch(s, table, batchId.get, base.get, appId))
      else {
        // checkpoint versions re-list the full snapshot; everything else
        // commits O(new files) delta text (see snapshotFiles). Full
        // LINES, not bare paths — data-skipping stats must survive the
        // checkpoint rewrite.
        val full = isCheckpointVersion(base.getOrElse(0) + 1)
        Right(Commit(
          if (full) base.map(snapshotLines(s, table, _)).getOrElse(Nil) ++ newFiles
          else newFiles,
          "append",
          batchId.fold(highs)(b =>
            highs.updated(hk, math.max(b, highs.getOrElse(hk, Long.MinValue)))),
          !full, batchId, appId))
      }
    }

  /** A batch id at-or-under the log's high-water landed on the skip path:
    * either a genuine foreachBatch REPLAY (its committing version exists —
    * return it) or NON-MONOTONE MISUSE (a second stream sharing the table,
    * a manual backfill with a recycled id), which must not be acked as if
    * its rows were written. The two are distinguishable whenever the log
    * is complete: version numbering starts at 1 and vacuum only drops a
    * prefix, so min(version) == 1 ⇔ no manifest has been dropped ⇒ a
    * missing batchId manifest proves the id was never committed — throw.
    * With a vacuumed prefix the id may legitimately live in a dropped
    * manifest; its rows are part of the base snapshot, so returning the
    * latest version keeps the documented at-most-once contract. */
  private def resolveReplayedBatch(s: SparkSession, table: String,
      batchId: Long, latest: Int, appId: String): Int =
    committedVersionOfBatch(s, table, batchId, appId).getOrElse {
      val versions = listVersions(fs(s, table), table)
      if (versions.nonEmpty && versions.min == 1)
        throw new IllegalArgumentException(
          s"batchId $batchId is <= $table's committed high-water for " +
            s"appId '$appId' but no manifest committed it: non-monotone " +
            "batch ids (a second stream sharing this appId, or a manual " +
            "backfill reusing an id) violate the appendBatch contract — " +
            "give each stream its own appId, or use plain append() for " +
            "out-of-band writes")
      else latest // vacuumed history: the batch's rows are in the base
    }

  /** Commit a new snapshot = previous snapshot's files + df's files.
    * Optimistic: on a lost race the base snapshot is re-read, so the
    * append composes with the winner's commit instead of clobbering it. */
  def append(s: SparkSession, table: String, df: DataFrame): Int =
    appendFiles(s, table, writeData(s, table, df), None)

  /** [[append]] plus per-file DATA-SKIPPING stats on one or more
    * integral columns: each file's (min, max, rows, nulls) per column is
    * embedded as tab-suffixed tokens in its manifest line — Delta's
    * per-file column stats / Iceberg's manifest min-max, the metadata
    * that lets a 100 TB scan with a selective range predicate open only
    * the files that can match instead of every footer. Lakehouse tables
    * skip on SEVERAL columns plus null counts: [[readSkipped]] prunes on
    * any one stats'd column, [[readSkippedMulti]] on a conjunction of
    * range predicates, and [[readSkippedNull]] on IS NULL probes via the
    * per-column null counts. Stats survive checkpoint re-listing,
    * restore, and vacuum's delta materialization (all resolve full
    * LINES); stats-agnostic readers strip them. Files written by plain
    * [[append]]/[[compact]] carry none and are always kept — pruning is
    * only ever a correct superset. Columns are validated integral BEFORE
    * any data file is written (a bad column must not abort mid-commit and
    * leave orphan litter). */
  def appendWithStats(s: SparkSession, table: String, df: DataFrame,
      statsCols: String*): Int = {
    require(statsCols.nonEmpty, "appendWithStats needs >= 1 stats column")
    validateStatsCols(df.schema, statsCols)
    appendFiles(s, table,
      statsLines(s, table, writeData(s, table, df), statsCols), None)
  }

  /** Stats columns must be INTEGRAL: min/max ride as long tokens, and a
    * silently-floored cast of e.g. a DOUBLE would make pruning WRONG
    * (file max 3.7 stored as 3 → a [3.5, 4] probe would skip a matching
    * row). Validated against the schema up front so the failure is a
    * clear message BEFORE any data file is written. */
  private def validateStatsCols(schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    statsCols.foreach { c =>
      require(c.nonEmpty && !c.exists(ch => ch.isWhitespace || ch == ':' || ch == '='),
        s"statsCol '$c' must be non-empty and free of whitespace/':'/'=' " +
          "(it is embedded in manifest line tokens)")
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"statsCol '$c' not in schema (${schema.fieldNames.mkString(", ")})"))
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
        s"statsCol '$c' must be an integral column (BYTE/SHORT/INT/BIGINT), " +
          s"got ${f.dataType.simpleString}: min/max are stored as long " +
          "manifest tokens, and a lossy cast would corrupt pruning")
    }
  }

  /** Decorate freshly-written file paths with per-file
    * (min, max, rows, nulls) stats tokens for each of `statsCols`.
    *
    * Fast path: the parquet FOOTERS of the files just written already
    * carry exact per-row-group min/max/null-count statistics for integral
    * columns — fold them per file driver-side (pure metadata I/O, zero
    * Spark jobs), exactly what Delta/Iceberg do at commit time. This
    * saves one full scan+shuffle+collect job per append.
    *
    * Fallback (bit-identical semantics): any file whose footer lacks a
    * usable statistic for a needed column (foreign parquet, disabled
    * stats) falls back to ONE groupBy(input_file_name) aggregate over
    * exactly the new files. Round17OptSpec proves both paths emit
    * byte-identical manifest lines (incl. all-null and empty files).
    *
    * Files with no rows keep a bare line (no stats → always kept); a
    * column with no non-null value in a file writes empty min/max
    * (provably range-unmatchable). Aggregates run on the native integral
    * type and the RESULT is cast to long, so any integral column works. */
  private def statsLines(s: SparkSession, table: String,
      newFiles: Seq[String], statsCols: Seq[String]): Seq[String] = {
    if (newFiles.isEmpty || statsCols.isEmpty) newFiles
    else footerStatsLines(s, table, newFiles, statsCols)
      .getOrElse(statsLinesByScan(s, table, newFiles, statsCols))
  }

  /** Per-file stats tokens from the parquet footers alone; None when any
    * footer cannot be read or lacks a usable exact statistic (the caller
    * then scans). */
  private[graft] def footerStatsLines(s: SparkSession, table: String,
      newFiles: Seq[String], statsCols: Seq[String]): Option[Seq[String]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration

    // one column's token over the file's row groups; None on any missing
    // or inexact statistic (poisons the whole call — exactness first)
    def colToken(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
        rows: Long, c: String): Option[String] = {
      var mn = Long.MaxValue; var mx = Long.MinValue
      var nulls = 0L; var nonNull = 0L; var ok = true
      blocks.foreach { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == c) match {
          case None => ok = false
          case Some(ch) =>
            val st = ch.getStatistics
            if (st == null || !st.isNumNullsSet) ok = false
            else {
              nulls += st.getNumNulls
              val nn = ch.getValueCount - st.getNumNulls
              nonNull += nn
              if (nn > 0) {
                if (!st.hasNonNullValue) ok = false
                else (st.genericGetMin, st.genericGetMax) match {
                  case (a: Number, z: Number) =>
                    mn = math.min(mn, a.longValue)
                    mx = math.max(mx, z.longValue)
                  case _ => ok = false
                }
              }
            }
        }
      }
      if (!ok) None
      else {
        val (mns, mxs) =
          if (nonNull == 0L) ("", "") else (mn.toString, mx.toString)
        Some(s"stats:$c=$mns:$mxs:$rows:$nulls")
      }
    }

    // an unreadable footer is an unusable one: None, so the caller scans
    def footerBlocks(rel: String)
        : Option[Seq[org.apache.parquet.hadoop.metadata.BlockMetaData]] =
      scala.util.Try {
        val rd = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(table, rel), conf))
        try rd.getFooter.getBlocks.asScala.toSeq
        finally rd.close()
      }.toOption

    def fileLine(rel: String): Option[String] = footerBlocks(rel).flatMap { blocks =>
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0L) Some(rel) // empty file: bare line, always kept
      else {
        val toks = statsCols.map(colToken(blocks, rows, _))
        if (toks.exists(_.isEmpty)) None
        else Some(s"$rel\t${toks.map(_.get).mkString("\t")}")
      }
    }

    val lines = newFiles.map(fileLine)
    if (lines.exists(_.isEmpty)) None else Some(lines.map(_.get))
  }

  /** The scanning stats pass: ONE groupBy(input_file_name) aggregate
    * over exactly the new files, collected at metadata scale (one tiny
    * row per file). */
  private[graft] def statsLinesByScan(s: SparkSession, table: String,
      newFiles: Seq[String], statsCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    import org.apache.spark.sql.types.LongType
    val sdf = s.read.parquet(newFiles.map(rel => s"$table/$rel"): _*)
    validateStatsCols(sdf.schema, statsCols)
    val aggs = count(lit(1)).as("n") +: statsCols.zipWithIndex.flatMap {
      case (c, i) => Seq(
        min(col(c)).cast(LongType).as(s"mn_$i"),
        max(col(c)).cast(LongType).as(s"mx_$i"),
        count(col(c)).as(s"nn_$i")) // non-null count
    }
    // key the per-file aggregate by the FULL file URI, matched back to
    // the table-relative path by suffix: a bare basename is NOT unique —
    // a partitioned write emits the same `part-00000-<job>` name in
    // every partition directory, which would silently merge their stats
    val stats = sdf
      .groupBy(input_file_name().as("furi"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .flatMap { r =>
        val n = r.getAs[Long]("n")
        val toks = statsCols.zipWithIndex.map { case (c, i) =>
          val mn = if (r.isNullAt(r.fieldIndex(s"mn_$i"))) ""
            else r.getAs[Long](s"mn_$i").toString
          val mx = if (r.isNullAt(r.fieldIndex(s"mx_$i"))) ""
            else r.getAs[Long](s"mx_$i").toString
          val nulls = n - r.getAs[Long](s"nn_$i")
          s"stats:$c=$mn:$mx:$n:$nulls"
        }
        val furi = r.getAs[String]("furi")
        newFiles.find(rel => furi.endsWith(s"/$rel"))
          .map(_ -> toks.mkString("\t"))
      }.toMap
    newFiles.map { rel =>
      stats.get(rel) match {
        case Some(toks) => s"$rel\t$toks"
        case None => rel // an empty file: no stats, always kept
      }
    }
  }

  /** Fault-injection point for Round16Spec's concurrent-writer gates:
    * invoked exactly once per copy-on-write commit, after the rewrite's
    * data files are written and immediately before its first publish
    * attempt — the window a concurrent commit lands in. Reset to no-op
    * before it runs (fire-once). Test instrumentation only, like
    * [[manifestReads]]. */
  private[graft] var beforeCowPublish: () => Unit = () => ()

  /** Publish a copy-on-write rewrite (delete / merge / compact) with
    * Delta-style CONFLICT-ANALYZED RETRY, so commuting commits land
    * instead of making large DML unschedulable on a busy table. The
    * rewrite froze `readSet` (the manifest lines it rewrote) at snapshot
    * `firstBase` and produced `newLines`. On every attempt, diff the head
    * against the read set:
    *
    *  - every commit since `firstBase` must be a plain APPEND — an
    *    overwrite/restore/compact/delete/merge changed the file set this
    *    rewrite read, a true conflict → loud abort, nothing published;
    *  - each concurrently-APPENDED file is checked by `conflictOf`
    *    (range-disjointness via its stats tokens for DML; everything
    *    commutes for compact) — a conflicting file → loud abort;
    *  - commuting appends carry forward: the head's lines minus the read
    *    set (= untouched lines + the winners' added files) stand beside
    *    `newLines`, and the winners' batch high-waters are taken from the
    *    head so streaming idempotence survives the interleave.
    *
    * Gives up after [[CowMaxAttempts]] lost races. */
  private def publishCowRewrite(s: SparkSession, table: String,
      firstBase: Int, baseLines: Set[String], readSet: Set[String],
      newLines: Seq[String], op: String,
      conflictOf: String => Option[String]): Int = {
    val hook = beforeCowPublish
    beforeCowPublish = () => ()
    hook()
    commitLoop(s, table, CowMaxAttempts) { (base, info) =>
      val head = base.getOrElse(firstBase)
      (firstBase + 1 to head).foreach { v =>
        val vop = commitInfo(s, table, v).getOrElse("op", "")
        if (vop != "append")
          throw new IllegalStateException(
            s"$op on $table aborted: concurrent '$vop' committed version " +
              s"$v and rewrote the file set this $op read (snapshot " +
              s"$firstBase); re-run against the new head (nothing was " +
              "published)")
      }
      val headLines = snapshotLines(s, table, head)
      // appends never remove files, so the read set must still be live
      // on the head; anything else is a log anomaly — never drop rows
      val missing = readSet -- headLines.toSet
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"$op on $table aborted: ${missing.size} file(s) this $op read " +
            s"at snapshot $firstBase vanished from head $head (first: " +
            s"${pathOf(missing.head)}); nothing was published")
      // only files ADDED since firstBase need the conflict check; lines
      // already in the base snapshot were analyzed by the caller's own
      // touched/untouched partition step
      headLines.filterNot(baseLines).foreach { ln =>
        conflictOf(ln).foreach { why =>
          throw new IllegalStateException(
            s"$op on $table aborted: concurrently appended file " +
              s"${pathOf(ln)} $why — serializing the $op after it " +
              "requires re-running against the new head (nothing was " +
              "published)")
        }
      }
      Right(Commit(headLines.filterNot(readSet) ++ newLines, op, highsOf(info)))
    }
  }

  /** The conflict check of a range DML on `c` over [lo, hi] against a
    * concurrently appended line: why the line's file may hold a matching
    * row, or None when its stats prove it disjoint. `range` names the
    * DML's range and `what` the rows it matches. */
  private def rangeConflict(c: String, lo: Long, hi: Long, range: String,
      what: String)(line: String): Option[String] =
    if (!mayHold(c, lo, hi)(line)) None
    else Some(
      if (fileStatsOf(line, c).isDefined)
        s"has $c stats overlapping the $range [$lo, $hi]"
      else s"carries no $c stats (it might hold matching $what)")

  /** Copy-on-write range DELETE (Delta DELETE WHERE / Iceberg
    * copy-on-write): removes every row with `statsCol` in [lo, hi] by
    * rewriting ONLY the files whose stats range intersects the predicate
    * — the skipping layer applied to writes, which is what makes a
    * GDPR-scale delete tractable at 100 TB (touch the ~1/N matching
    * files, not the table). Files without stats for `statsCol` are
    * conservatively rewritten (they might hold matching rows). Untouched
    * files keep their exact manifest lines (paths AND stats — all
    * stats'd columns); rewritten remainders are re-stats'd on EVERY
    * column the touched lines carried stats for, and
    * `repartitionByRange` on `statsCol` keeps them range-clustered so
    * their new min/max stay tight and skipping stays sharp (a round-robin
    * rewrite would give every remainder file the whole touched key range,
    * degrading post-delete pruning toward keep-everything). NULL
    * `statsCol` rows never match a range and are preserved. History is
    * never rewritten: the pre-delete snapshot stays readable and vacuum
    * reclaims the superseded files after the grace window. Batch
    * high-waters carry forward (a delete must not reset streaming
    * idempotence).
    *
    * Returns the new version — or the CURRENT version unchanged when no
    * file intersects (a provable no-op publishes nothing). Concurrency:
    * a concurrent append whose files are provably range-disjoint from
    * the predicate (by their stats tokens) commutes — the delete retries
    * automatically against the new head, carrying the appended files
    * forward; an overlapping or stats-less concurrent append, or any
    * non-append commit, still aborts loudly with nothing published
    * ([[publishCowRewrite]]). */
  def deleteWhere(s: SparkSession, table: String, statsCol: String,
      lo: Long, hi: Long): Int = {
    import org.apache.spark.sql.functions.col
    val base = headOf(s, table)
    val lines = snapshotLines(s, table, base)
    val (touched, untouched) = lines.partition(mayHold(statsCol, lo, hi))
    if (touched.isEmpty) return base // provable no-op: nothing intersects
    val touchedDf = readLines(s, table, touched)
    validateStatsCols(touchedDf.schema, Seq(statsCol))
    val remaining = touchedDf.filter(col(statsCol).isNull ||
      !(col(statsCol) >= lo && col(statsCol) <= hi))
    // a fully-emptied rewrite keeps no new files — unless the delete
    // empties the whole TABLE, which must still publish one (empty)
    // schema-bearing file so the head stays readable
    val newLines =
      if (remaining.isEmpty && untouched.nonEmpty) Nil
      else rewriteData(s, table, remaining,
        if (remaining.isEmpty) 1 else touched.size, statsCol,
        rewriteStatsCols(touched, statsCol), partColOfLines(lines))
    publishCowRewrite(s, table, base, lines.toSet, touched.toSet, newLines,
      "delete", rangeConflict(statsCol, lo, hi, "delete range", "rows"))
  }

  /** MERGE-ON-READ range DELETE (Delta deletion vectors / Iceberg
    * positional delete files — the modern alternative to [[deleteWhere]]'s
    * copy-on-write): instead of rewriting the stats-intersecting files,
    * record the MATCHED ROW POSITIONS in a tiny sidecar parquet
    * (fname, idx) and append a `dv:<sidecar>` token to each hit file's
    * manifest line. The write cost is O(matched rows) — deleting 1k rows
    * from a 100 TB table writes kilobytes, not the touched files — and
    * readers apply the vectors as one broadcast anti-join
    * ([[positional]]). Successive MoR deletes APPEND tokens (the reader
    * unions them; already-deleted rows are excluded from matching, so
    * sidecars stay disjoint). File stats go stale-wide, which is always
    * superset-correct. [[compact]] reads through the vectors, so
    * compaction doubles as the DV-apply pass: the rewritten files are
    * clean, the tokens drop, and [[vacuum]] reclaims the orphaned
    * sidecars (it retains any sidecar a retained manifest references).
    * [[changes]] reports DV additions as row-level deletes — the CDC
    * feed stays exact across both delete spellings. NULL rows never
    * match. Concurrency is [[deleteWhere]]'s: range-disjoint concurrent
    * appends commute (auto-retry), everything else aborts loudly.
    * Partitioned tables are rejected (use copy-on-write there). Returns
    * the new version, or the current one when nothing matched (a
    * provable no-op publishes nothing). */
  def deleteWhereMoR(s: SparkSession, table: String, statsCol: String,
      lo: Long, hi: Long): Int = {
    import org.apache.spark.sql.functions.col
    val base = headOf(s, table)
    val lines = snapshotLines(s, table, base)
    require(lines.forall(partTokenOf(_).isEmpty),
      s"$table is partitioned: merge-on-read delete is unsupported on " +
        "partitioned tables — use deleteWhere (copy-on-write)")
    val touched = lines.filter(mayHold(statsCol, lo, hi))
    if (touched.isEmpty) return base
    // exclude rows ALREADY deleted by earlier vectors, so sidecar sets
    // stay disjoint and the CDC dv-diff is exact
    val live = positional(s, table, touched.map(pathOf),
      touched.flatMap(dvTokensOf).distinct, "left_anti")
    validateStatsCols(live.drop("_dv_fname", "_dv_idx").schema, Seq(statsCol))
    val matches = live
      .filter(col(statsCol) >= lo && col(statsCol) <= hi) // NULL never matches
      .select(col("_dv_fname").as("fname"), col("_dv_idx").as("idx"))
    // metadata-scale: which files actually hold matches (token targets)
    val hitFiles = matches.select("fname").distinct()
      .collect().map(_.getString(0)).toSet
    if (hitFiles.isEmpty) return base // provable no-op: nothing matched
    val dvRel = writeFresh(s, table, "dv")(matches.coalesce(1).write.parquet).head
    val newTouched = touched.map { ln =>
      if (hitFiles(pathOf(ln))) s"$ln\tdv:$dvRel" else ln
    }
    publishCowRewrite(s, table, base, lines.toSet, touched.toSet,
      newTouched, "delete",
      rangeConflict(statsCol, lo, hi, "delete range", "rows"))
  }

  /** The positional deletion-vector scan: the rows of the data `files`
    * with their positions (`_dv_fname`, the file's table-relative path
    * from `_metadata.file_path`; `_dv_idx`, its `_metadata.row_index`),
    * joined `how` against the BROADCAST union of the (fname, idx)
    * `sidecars` — `left_anti` drops the deleted rows, `left_semi` keeps
    * only them. Deleted-row sets are small relative to the data (that is
    * the merge-on-read bet), so the join is one broadcast hash join and
    * the data is never shuffled. No sidecars means nothing is deleted:
    * the rows pass unjoined (a `left_semi` caller always names some). */
  private def positional(s: SparkSession, table: String, files: Seq[String],
      sidecars: Seq[String], how: String,
      mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, regexp_extract}
    val data = s.read.option("mergeSchema", mergeSchema.toString)
      .parquet(files.map(rel => s"$table/$rel"): _*)
      .withColumn("_dv_fname", regexp_extract(col("_metadata.file_path"),
        "data/[^/]+/[^/]+$", 0))
      .withColumn("_dv_idx", col("_metadata.row_index"))
    if (sidecars.isEmpty) data
    else {
      val dv = s.read.parquet(sidecars.map(rel => s"$table/$rel"): _*)
      data.join(broadcast(dv),
        data("_dv_fname") === dv("fname") && data("_dv_idx") === dv("idx"),
        how)
    }
  }

  /** The columns a DML rewrite should re-stats: every column ANY touched
    * line carried stats for, plus the DML's own column — so a
    * multi-column-stats table keeps all its pruning dimensions sharp
    * through deletes and merges. */
  private def rewriteStatsCols(touched: Seq[String], dmlCol: String)
      : Seq[String] =
    (touched.flatMap(statsColsOf) :+ dmlCol).distinct

  /** Write a DML rewrite's rows, re-stats'd and range-clustered on
    * `clusterCol`, PRESERVING the table's partition layout: when the
    * base snapshot is uniformly partitioned ([[partColOfLines]]), the
    * rewrite goes back under `<pcol>=<value>/` dirs with fresh part
    * tokens (the partition column was restored as a data column by
    * [[readLines]], so partitionBy sees it); otherwise a plain write.
    * An empty rewrite of a partitioned table falls back to one plain
    * schema-bearing file — partitionBy writes nothing for zero rows,
    * and the head must stay readable ([[readLines]] unions the hybrid
    * by name since the file carries the partition column as data). */
  private def rewriteData(s: SparkSession, table: String, df: DataFrame,
      parts: Int, clusterCol: String, statsCols: Seq[String],
      pcol: Option[String]): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val clustered = df.repartitionByRange(math.max(1, parts), col(clusterCol))
    pcol match {
      case Some(p) =>
        val files = writeDataPartitioned(s, table, clustered, p)
        if (files.isEmpty) // zero rows: no partition dirs were written
          statsLines(s, table, writeData(s, table, df),
            statsCols.filterNot(_ == p))
        else withPartTokens(
          statsLines(s, table, files.map(_._1),
            statsCols.filterNot(_ == p)),
          p, files.toMap)
      case None =>
        statsLines(s, table, writeData(s, table, clustered), statsCols)
    }
  }

  /** Stats-pruned snapshot read: the files of snapshot `version`
    * (default latest) whose `statsCol` range [min, max] intersects
    * [lo, hi], plus every file without stats for that column. Returns
    * (rows of the KEPT files — a superset of the predicate, apply the
    * residual filter downstream exactly like a parquet scan after
    * row-group pruning; kept count; total count). */
  def readSkipped(s: SparkSession, table: String, statsCol: String,
      lo: Long, hi: Long, version: Option[Int] = None)
      : (DataFrame, Int, Int) =
    readPruned(s, table, version)(mayHold(statsCol, lo, hi))

  /** Multi-column stats pruning: a file is kept only when EVERY
    * (column, lo, hi) predicate's stats range intersects — the
    * conjunction the planner applies for `c1 BETWEEN ... AND c2
    * BETWEEN ...`, so files_scanned drops on each dimension the layout
    * clusters. A file without stats for some predicate column is kept
    * unless another predicate prunes it (superset correctness per
    * conjunct). Same return shape as [[readSkipped]]. */
  def readSkippedMulti(s: SparkSession, table: String,
      preds: Seq[(String, Long, Long)], version: Option[Int] = None)
      : (DataFrame, Int, Int) = {
    require(preds.nonEmpty, "readSkippedMulti needs >= 1 predicate")
    readPruned(s, table, version)(ln =>
      preds.forall { case (c, lo, hi) => mayHold(c, lo, hi)(ln) })
  }

  /** Null-count pruning: the files of snapshot `version` that can hold a
    * NULL in `statsCol` — per-file null counts ride in the stats tokens,
    * so an `IS NULL` probe opens only the files that actually contain
    * nulls (Delta's nullCount stats). Files with no stats token, or a
    * three-field token (null count unknown), are always kept. Same
    * return shape as [[readSkipped]]. */
  def readSkippedNull(s: SparkSession, table: String, statsCol: String,
      version: Option[Int] = None): (DataFrame, Int, Int) =
    readPruned(s, table, version)(ln => fileStatsOf(ln, statsCol) match {
      case Some(FileStats(_, _, _, Some(nulls))) => nulls > 0
      case _ => true
    })

  /** The one pruned read: snapshot `version` (default latest) resolved
    * once, its lines filtered by `keep`, the kept lines read through
    * [[readLines]] (an empty keep reads the snapshot's schema with no
    * rows). Returns (rows, kept count, total count). */
  private def readPruned(s: SparkSession, table: String,
      version: Option[Int])(keep: String => Boolean): (DataFrame, Int, Int) = {
    val v = version.getOrElse(headOf(s, table))
    val lines = snapshotLines(s, table, v)
    val kept = lines.filter(keep)
    val df =
      if (kept.isEmpty) read(s, table, Some(v)).limit(0)
      else readLines(s, table, kept)
    (df, kept.size, lines.size)
  }

  /** The version where writer `appId` committed streaming batch
    * `batchId`, if any. O(log versions) manifest reads: every manifest
    * carries each writer's monotone high-water, so the FIRST version
    * whose high-water for this appId reaches `batchId` is the only
    * candidate — binary search it, then confirm that manifest's own
    * (batchId, appId) (the high-water may have jumped past an id that
    * never committed; the FIRST version at a given high-water is by
    * construction the commit that raised it). Headerless / other-writer
    * manifests read as high-water −∞ only before this writer's first
    * commit, which keeps the per-writer sequence monotone. */
  def committedVersionOfBatch(s: SparkSession, table: String,
      batchId: Long, appId: String = ""): Option[Int] = {
    val versions = listVersions(fs(s, table), table).sorted.toIndexedSeq
    if (versions.isEmpty) return None
    def high(v: Int): Long =
      batchHighOf(s, table, v, appId).getOrElse(Long.MinValue)
    // smallest index whose batchHigh >= batchId
    var lo = 0; var hi = versions.size - 1; var found = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (high(versions(mid)) >= batchId) { found = mid; hi = mid - 1 }
      else lo = mid + 1
    }
    if (found < 0) None
    else Some(versions(found)).filter { v =>
      val info = commitInfo(s, table, v)
      info.get("batchId").contains(batchId.toString) &&
        info.getOrElse("appId", "") == appId
    }
  }

  /** Idempotent micro-batch append — the `foreachBatch` sink primitive.
    * Spark's foreachBatch is at-least-once: after a failure the restarted
    * query REPLAYS the last batch id with the same deterministic content.
    * Stamping the id into the atomically-published manifest makes the
    * append exactly-once: a replayed id is detected and skipped (its data
    * directory, if half-written by the dead attempt, is unreferenced and
    * reclaimed by [[vacuum]]). The skip decision is O(1): structured
    * streaming batch ids are MONOTONE, so id ≤ the latest manifest's
    * carried `batchHigh` ⇔ already committed — no per-batch log replay,
    * which matters when a long-running stream has committed thousands of
    * versions. Returns the committing version — the existing one on a
    * skip (or the latest version when the original manifest was
    * vacuumed; the batch's rows are part of that snapshot either way).
    * A skipped id that was NEVER committed (provable whenever the log
    * has no vacuumed prefix) throws instead of silently acking — see
    * [[resolveReplayedBatch]].
    *
    * `appId` identifies the WRITER (Delta's `txnAppId`): each stream
    * passes a stable unique id and gets its own monotone high-water, so
    * multiple streams share one table without tripping each other's
    * replay detection. The default empty appId is the single-stream
    * contract.
    *
    * `statsCols`: a streaming sink on a stats'd table should write
    * per-file stats like any other append — a stats-LESS micro-batch
    * commit is a conservative conflict for every concurrent
    * [[deleteWhere]]/[[mergeInto]] (no way to prove disjointness), so a
    * busy stream would make DML unschedulable; with stats the conflict
    * analysis can see the batch's key range and commute. */
  def appendBatch(s: SparkSession, table: String, df: DataFrame,
      batchId: Long, appId: String = "",
      statsCols: Seq[String] = Nil): Int = {
    requireValidAppId(appId)
    validateStatsCols(df.schema, statsCols)
    val latest = latestVersion(s, table)
    val skip = latest.flatMap(batchHighOf(s, table, _, appId))
      .exists(batchId <= _)
    if (skip) resolveReplayedBatch(s, table, batchId, latest.get, appId)
    else appendFiles(s, table,
      statsLines(s, table, writeData(s, table, df), statsCols),
      Some(batchId), appId)
  }

  /** Commit a new snapshot containing ONLY df's files (restatement).
    * Always a FULL manifest — a restatement is its own checkpoint.
    * Carries every writer's batch high-water forward: a restatement does
    * not reset streaming idempotence. */
  def overwrite(s: SparkSession, table: String, df: DataFrame): Int = {
    val files = writeData(s, table, df)
    commitLoop(s, table)((_, info) =>
      Right(Commit(files, "overwrite", highsOf(info))))
  }

  /** Roll the table back to snapshot `toVersion` by COMMITTING FORWARD
    * (Delta's RESTORE): publishes a new version whose file list is
    * exactly `toVersion`'s — history is never rewritten, the restore is
    * itself a commit (readable, time-travelable, vacuum-safe: the
    * restored files are referenced by the new head, so they survive
    * vacuum even after `toVersion`'s own manifest is dropped). Always a
    * full checkpoint manifest; carries every writer's batch high-water
    * forward — a restore does not reset streaming idempotence (replayed
    * batch ids must still skip, exactly as after an overwrite
    * restatement). Returns the new version.
    *
    * Vacuum-race guard: a concurrent [[vacuum]] may drop `toVersion`'s
    * manifest AND reclaim its data files between our resolve and the
    * publish — the new head would silently reference deleted parquet.
    * [[vacuum]]'s uniform `orphanGraceMs` age gate makes that window a
    * full retention horizon for recently-written data, and this method
    * re-verifies every resolved file still exists immediately before EACH
    * publish attempt, failing loudly instead of publishing a corrupt
    * head. Residual contract: the exists-check is check-then-publish, so
    * restore is race-SAFE only against vacuums honoring a non-trivial
    * `orphanGraceMs` (the production default; a restore resolves and
    * publishes in seconds, the grace window is hours) — a zero-grace
    * vacuum, which only the spec/maintenance path uses, can still reclaim
    * a resolved file inside the check→rename window. Do not run grace=0
    * vacuums concurrently with restores. */
  def restore(s: SparkSession, table: String, toVersion: Int): Int = {
    // full lines (stats suffixes survive the restore), bare paths for
    // the existence verification
    val files = snapshotLines(s, table, toVersion) // fails loudly if gone
    val f = fs(s, table)
    commitLoop(s, table) { (_, info) =>
      val missing = (files.map(pathOf) ++ files.flatMap(dvTokensOf))
        .filterNot(rel => f.exists(new Path(table, rel)))
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"restore of $table to version $toVersion aborted: " +
            s"${missing.size} resolved data/deletion-vector file(s) were " +
            s"vacuumed concurrently (first: ${missing.head}); no head " +
            "published")
      Right(Commit(files, "restore", highsOf(info)))
    }
  }

  /** Small-file compaction (Delta OPTIMIZE / Iceberg rewrite_data_files):
    * publishes a NEW version whose snapshot holds the SAME rows as the
    * current head rewritten into exactly `targetFiles` data files. The
    * streaming-ingest maintenance pass: a micro-batch sink commits one
    * small file per batch, and at 100 TB a year of minute-batches is
    * ~500k files whose footers alone dominate scan planning — compaction
    * is what keeps the per-file row count healthy. History is never
    * rewritten: pre-compact versions stay readable, and the superseded
    * small files become dropped-manifest history that [[vacuum]] reclaims
    * after the grace window. Every writer's batch high-water is carried
    * forward — compaction must not reset streaming idempotence.
    *
    * `repartition(targetFiles)`, not `coalesce`: coalesce's output file
    * count inherits the SCAN's partitioning (tiny files can merge into
    * one scan partition under low parallelism), so the rewritten layout
    * would vary by cluster size; repartition pins it.
    *
    * Concurrency: a compact is a pure reshuffle of the files it read, so
    * it COMMUTES with every concurrent append regardless of key ranges:
    * on a lost publish race the appended files simply carry forward
    * beside the compacted ones and the compact retries automatically. Any
    * non-append concurrent commit (overwrite/restore/delete/merge/another
    * compact) rewrote the input file set and aborts loudly with nothing
    * published ([[publishCowRewrite]]). */
  def compact(s: SparkSession, table: String, targetFiles: Int = 1): Int = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val base = headOf(s, table)
    val lines = snapshotLines(s, table, base)
    val rows = read(s, table, Some(base))
    val newLines = partColOfLines(lines) match {
      // a PARTITIONED table compacts per partition (Delta OPTIMIZE's
      // unit of work): each value's rows hash to one task and partitionBy
      // splits files by value, so the head lands at exactly one file per
      // live partition value — targetFiles does not apply, the partition
      // grain is the layout contract
      case Some(p) =>
        import org.apache.spark.sql.functions.col
        val files = writeDataPartitioned(s, table, rows.repartition(col(p)), p)
        withPartTokens(files.map(_._1), p, files.toMap)
      case None =>
        writeData(s, table, rows.repartition(targetFiles))
    }
    publishCowRewrite(s, table, base, lines.toSet, lines.toSet, newLines,
      "compact", _ => None) // a reshuffle commutes with any append
  }

  /** Copy-on-write MERGE / upsert (Delta MERGE INTO ... WHEN MATCHED
    * UPDATE, WHEN NOT MATCHED INSERT): every row of `source` replaces
    * the table row with the same `keyCol` value, or is inserted when no
    * such row exists. File-level pruning comes free from the stats
    * layer: all source keys lie in [min, max] of `source`, so only the
    * files whose `keyCol` stats intersect that range can hold matching
    * rows — they are rewritten with matches anti-joined out; every other
    * file carries by exact manifest line (a CDC upsert against a
    * key-clustered 100 TB table rewrites the touched slice, not the
    * table). Stats-less files are conservatively rewritten; rewritten
    * files and the inserted rows are re-stats'd on every column the
    * touched lines carried stats for, range-clustered on `keyCol`
    * (see [[deleteWhere]]). `source` must be key-unique (two source rows
    * with one key would both land — the caller owns that contract, same
    * as Delta's multiple-match error) and its keys must be NON-NULL: a
    * NULL key never equi-matches, so a NULL-key row could neither update
    * anything nor insert idempotently (repeated merges would accumulate
    * duplicates through the anti-join) — rejected loudly up front.
    * History and batch high-waters behave exactly like [[deleteWhere]],
    * and so does concurrency: a concurrent append provably disjoint from
    * the source key range commutes and the merge retries automatically;
    * an overlapping/stats-less append or any non-append commit aborts
    * loudly ([[publishCowRewrite]]). Returns the new version. */
  def mergeInto(s: SparkSession, table: String, source: DataFrame,
      keyCol: String): Int = {
    import org.apache.spark.sql.functions.{col, count, lit, max => fmax, min => fmin}
    validateStatsCols(source.schema, Seq(keyCol))
    val base = headOf(s, table)
    val bounds = source.agg(fmin(col(keyCol)), fmax(col(keyCol)),
      count(lit(1)), count(col(keyCol))).head()
    require(bounds.getLong(2) == bounds.getLong(3),
      s"mergeInto source has ${bounds.getLong(2) - bounds.getLong(3)} " +
        s"NULL $keyCol key(s): NULL never equi-matches, so a NULL-key row " +
        "can neither update a table row nor insert idempotently — filter " +
        "them out or merge on a non-null key (same caller contract as " +
        "key-uniqueness)")
    if (bounds.getLong(2) == 0) return base // empty source: provable no-op
    val (slo, shi) = (bounds.getLong(0), bounds.getLong(1))
    val lines = snapshotLines(s, table, base)
    val touched = lines.filter(mayHold(keyCol, slo, shi))
    val newData =
      if (touched.isEmpty) source
      else readLines(s, table, touched)
        .join(source.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(source)
    val newLines = rewriteData(s, table, newData,
      math.max(1, touched.size), keyCol,
      rewriteStatsCols(touched, keyCol), partColOfLines(lines))
    publishCowRewrite(s, table, base, lines.toSet, touched.toSet, newLines,
      "merge", rangeConflict(keyCol, slo, shi, "source key range", "keys"))
  }

  /** The one line-set reader: the rows of a set of manifest LINES, with
    * Hive partition columns restored where the lines carry `part:` tokens
    * and deletion vectors applied where they carry `dv:` tokens.
    * Partition discovery needs a consistent directory structure under
    * each basePath, and every commit writes its own `data/<uuid>` dir — so
    * partitioned lines read per-commit-group with
    * `basePath = <table>/data/<uuid>` (the value column comes back typed
    * by Spark's partition inference) and the groups union by name.
    * Unpartitioned lines on the same snapshot (a DML that emptied a
    * partitioned table writes the partition column as a DATA column;
    * schema-compatible hybrids) join the union; a genuinely incompatible
    * mix fails the unionByName loudly. */
  private def readLines(s: SparkSession, table: String,
      lines: Seq[String], mergeSchema: Boolean = false): DataFrame = {
    require(lines.nonEmpty, s"$table: empty manifest line set")
    val (dv, rest) = lines.partition(dvTokensOf(_).nonEmpty)
    require(dv.forall(partTokenOf(_).isEmpty),
      s"$table: deletion vectors on PARTITIONED lines are unsupported — " +
        "use copy-on-write deleteWhere on partitioned tables")
    val (parted, plain) = rest.partition(partTokenOf(_).isDefined)
    def reader = s.read.option("mergeSchema", mergeSchema.toString)
    def paths(ls: Seq[String]) = ls.map(ln => s"$table/${pathOf(ln)}")
    val plainDf =
      if (plain.isEmpty) Nil else Seq(reader.parquet(paths(plain): _*))
    val partedDfs = parted
      .groupBy(ln => pathOf(ln).split("/").take(2).mkString("/"))
      .toSeq.sortBy(_._1)
      .map { case (sub, ls) =>
        reader.option("basePath", s"$table/$sub").parquet(paths(ls): _*)
      }
    val dvDf =
      if (dv.isEmpty) Nil
      else Seq(positional(s, table, dv.map(pathOf),
        dv.flatMap(dvTokensOf).distinct, "left_anti", mergeSchema)
        .drop("_dv_fname", "_dv_idx"))
    (plainDf ++ partedDfs ++ dvDf).reduce(_ unionByName _)
  }

  /** The uniform partition column of a line set: Some(col) when EVERY
    * line carries a part token and they all name one column — the shape
    * [[appendPartitioned]]-closed tables have, which DML rewrites must
    * preserve. None otherwise (rewrites then write plain files). */
  private def partColOfLines(lines: Seq[String]): Option[String] = {
    val toks = lines.map(partTokenOf)
    if (toks.nonEmpty && toks.forall(_.isDefined))
      toks.flatten.map(_._1).distinct match {
        case Seq(one) => Some(one)
        case _ => None
      }
    else None
  }

  /** Snapshot read: resolves `version` (default: latest) ONCE and pins
    * that manifest's file list — later commits are invisible (snapshot
    * isolation), and any published version stays readable (time travel)
    * until vacuumed. Partitioned snapshots ([[appendPartitioned]])
    * restore the partition column from the directory layout.
    *
    * `mergeSchema`: a snapshot whose commits evolved the schema (appends
    * adding columns) reads as the UNION schema, older files' missing
    * columns NULL — Delta/Iceberg's additive schema evolution; without
    * it parquet takes one file's footer as the schema and silently drops
    * the new columns depending on file order. */
  def read(s: SparkSession, table: String,
      version: Option[Int] = None,
      mergeSchema: Boolean = false): DataFrame =
    readLines(s, table,
      snapshotLines(s, table, version.getOrElse(headOf(s, table))), mergeSchema)

  /** The version a timestamp time-travel resolves to: the HIGHEST version
    * whose commit ts is ≤ `ts` (the Delta `timestampAsOf` contract).
    * O(log versions) header reads: commit timestamps are clamped
    * monotone at publish (see [[commitLoop]] — max(now, base+1), Delta's
    * own adjustment), so the predicate "ts(v) ≤ target" is
    * downward-closed and binary-searchable; headerless versions read as
    * −∞ (monotone: they predate every stamped commit) but are never
    * RETURNED — resolving to one throws. Throws when no version is old
    * enough. */
  def versionAsOf(s: SparkSession, table: String, ts: Long): Int = {
    val versions = listVersions(fs(s, table), table).sorted.toIndexedSeq
    def tsAt(v: Int): Option[Long] = tsOf(commitInfo(s, table, v))
    // largest index whose commit ts (−∞ if headerless) is <= target
    var lo = 0; var hi = versions.size - 1; var found = -1
    var foundTs: Option[Long] = None
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val t = tsAt(versions(mid))
      if (t.forall(_ <= ts)) { found = mid; foundTs = t; lo = mid + 1 }
      else hi = mid - 1
    }
    // robustness for a headerless manifest NOT in the prefix: never
    // return an unstamped version — walk left to the nearest stamped one
    // (bounded by the headerless run length)
    while (found >= 0 && !foundTs.exists(_ <= ts)) {
      found -= 1
      foundTs = if (found >= 0) tsAt(versions(found)) else None
    }
    if (found < 0 || foundTs.isEmpty)
      throw new IllegalStateException(
        s"$table has no snapshot committed at or before $ts")
    versions(found)
  }

  /** Timestamp time travel: the snapshot as of wall-clock `ts` (epoch
    * millis) — [[versionAsOf]] + a pinned [[read]]. */
  def readAsOf(s: SparkSession, table: String, ts: Long): DataFrame =
    read(s, table, Some(versionAsOf(s, table, ts)))

  /** Incremental read: the rows of the files `toV` references that
    * `fromV` (exclusive; ≤ 0 means the beginning) does not, read as
    * `toV` sees them — through [[readLines]], so partition columns are
    * restored and deletion vectors that commits in the range added are
    * applied. Because data files are immutable and appends only add
    * files, over an append-only version range this is EXACTLY the
    * appended rows (the streaming-consumer surface: a downstream job
    * polls latestVersion and reads only the delta — never re-scans the
    * table). An overwrite RESTATES the table rather than appending, so
    * ranges crossing one still return only the genuinely-new files but
    * cannot express the implied deletes; pass the version of the
    * overwrite itself as `fromV` to consume from a restatement boundary.
    * Returns an empty DataFrame (with the table's schema) when nothing
    * was added. */
  def readIncremental(s: SparkSession, table: String, fromV: Int,
      toV: Int): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val baseFiles =
      if (fromV <= 0) Set.empty[String]
      else snapshotFiles(s, table, fromV).toSet
    val added = snapshotLines(s, table, toV).filterNot(ln => baseFiles(pathOf(ln)))
    if (added.isEmpty) read(s, table, Some(toV)).limit(0)
    else readLines(s, table, added)
  }

  /** Diff-based CHANGE DATA FEED (Delta CDF reduced to this log's
    * invariants): the logical row changes each version in (fromV, toV]
    * introduced, derived by multiset-diffing the rows of the files the
    * version REMOVED against the rows it ADDED — CDF with ZERO
    * write-path cost, and read cost O(churned files), never O(table)
    * (the manifest diff names exactly the changed files; immutable data
    * files make the diff exact). Per-op shape, all from the ONE
    * mechanism:
    *
    *  - append → pure inserts (no removed files, no diff executed);
    *  - copy-on-write delete → exactly the predicate rows as deletes
    *    (the rewritten remainder appears on both sides and cancels);
    *  - merge → delete+insert pairs for updated keys (Delta's
    *    update_pre/postimage in multiset terms) + pure inserts for new
    *    keys;
    *  - compact / restore-to-equal-state → empty (same rows, the diff
    *    proves it);
    *  - overwrite → the old snapshot as deletes + the new as inserts.
    *
    * Each row is tagged (`_change_version`, `_change_type`
    * 'insert'/'delete'). Versions in the range must share a schema
    * (CDF over a schema-evolution boundary needs the union schema —
    * read the sides separately with mergeSchema instead). At 100 TB the
    * exceptAll shuffles only the churned files' rows; Delta instead
    * WRITES change files to make this read-free — the manifest diff
    * here is the same asymptotic read cost without touching the write
    * path. */
  def changes(s: SparkSession, table: String, fromV: Int, toV: Int)
      : DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromV < toV, s"changes needs fromV < toV, got [$fromV, $toV]")
    def tagged(df: DataFrame, v: Int, ct: String): DataFrame =
      df.withColumn("_change_version", lit(v))
        .withColumn("_change_type", lit(ct))
    (math.max(1, fromV + 1) to toV).flatMap { v =>
      val prev =
        if (v == 1) Nil else snapshotLines(s, table, v - 1)
      val cur = snapshotLines(s, table, v)
      val prevByPath = prev.map(ln => pathOf(ln) -> ln).toMap
      val curPaths = cur.map(pathOf).toSet
      // diff by PATH, not full line: a token-only change (fresh stats on
      // a carried file) is not a data change...
      val removed = prev.filterNot(ln => curPaths(pathOf(ln)))
      val added = cur.filterNot(ln => prevByPath.contains(pathOf(ln)))
      val pathDiff = (removed, added) match {
        case (Nil, Nil) => None
        case (Nil, a) => Some(tagged(readLines(s, table, a), v, "insert"))
        case (r, Nil) => Some(tagged(readLines(s, table, r), v, "delete"))
        case (r, a) =>
          val ra = readLines(s, table, a)
          val rr = readLines(s, table, r)
          Some(tagged(ra.exceptAll(rr), v, "insert")
            .unionByName(tagged(rr.exceptAll(ra), v, "delete")))
      }
      // ...EXCEPT a grown dv token set, which IS a data change: a
      // merge-on-read delete touches no file paths, it appends deletion
      // vectors to carried lines. The rows those new vectors name are
      // still IN the files (MoR never rewrites), so a positional
      // semi-join recovers the exact deleted rows; sidecars are disjoint
      // per file (deleteWhereMoR matches only still-live rows), so no
      // row double-reports.
      val dvAdded = cur.flatMap { ln =>
        prevByPath.get(pathOf(ln)).toSeq.flatMap { pl =>
          dvTokensOf(ln).diff(dvTokensOf(pl))
        }
      }.distinct
      val dvDiff =
        if (dvAdded.isEmpty) None
        else {
          val fnames = s.read.parquet(dvAdded.map(r => s"$table/$r"): _*)
            .select("fname").distinct()
            .collect().map(_.getString(0)).toSeq // metadata-scale
          Some(tagged(positional(s, table, fnames, dvAdded, "left_semi")
            .drop("_dv_fname", "_dv_idx"), v, "delete"))
        }
      (pathDiff.toSeq ++ dvDiff.toSeq).reduceOption(_ unionByName _)
    }.reduceOption(_ unionByName _).getOrElse {
      // nothing changed anywhere in the range: empty frame, full shape
      tagged(read(s, table, Some(toV)).limit(0), toV, "insert")
    }
  }

  /** Retention-bounded cleanup: keep the newest `retain` manifests;
    * delete older manifests, aged `.tmp-` staging litter, and data files
    * and deletion-vector sidecars no retained manifest references. A
    * reader already holding a DataFrame pinned at a retained version is
    * untouched; a read at a dropped version fails loudly with the
    * missing manifest. Returns the number of deleted data and sidecar
    * files.
    *
    * Concurrent-writer safety: an in-flight `append` writes its data
    * directory BEFORE publishing the manifest, so at the instant vacuum
    * lists the data root that directory is referenced by nothing —
    * reclaiming every unreferenced file at once would delete a live
    * writer's data out from under its commit (Delta's VACUUM has the same
    * hazard and the same fix). EVERY file unreferenced by a retained
    * manifest — whether its manifest was dropped in this very call or it
    * was never referenced at all (a dead attempt's litter, or an
    * in-flight writer!) — is reclaimed only when older than
    * `orphanGraceMs` (default 24 h, Delta's retention horizon). Reclaiming
    * dropped-manifest data immediately would also be a restore-race
    * hazard: [[restore]] resolves a target version's file list, then
    * commits forward — a reclaim landing between those two steps would
    * publish a head referencing deleted parquet. With the uniform age
    * gate a racing restore has the whole grace window to publish (a
    * restore takes seconds), and [[restore]] additionally verifies the
    * resolved files still exist immediately before each publish attempt.
    * Residual caveat (Delta tracks tombstone-time to close it): the gate
    * keys on file WRITE time, so data written more than `orphanGraceMs`
    * ago and superseded just now is reclaimable at once — the restore's
    * own exists-check is the guard on that path. `.tmp-` manifest staging
    * files get the same age gate — deleting a concurrent writer's staged
    * manifest mid-publish would crash its rename; the litter filter
    * matches ANY name containing `.tmp-`, so a crashed writer's orphaned
    * `..tmp-<uuid>.crc` checksum sibling is swept with its staging file.
    * (Healthy publishes do NOT accumulate crc litter here — the
    * checksummed FileContext rename moves the crc along as the manifest's
    * `.NNNNN.manifest.crc` twin, and deleting a dropped manifest via the
    * checksummed FileSystem removes its twin; Round15Spec gates both
    * facts.) */
  def vacuum(s: SparkSession, table: String, retain: Int,
      orphanGraceMs: Long = 24L * 3600 * 1000): Int = {
    require(retain >= 1, "retain must keep at least the latest snapshot")
    val f = fs(s, table)
    val versions = listVersions(f, table).sorted
    if (versions.isEmpty) return 0
    val (dropped, kept) = versions.splitAt(math.max(0, versions.size - retain))
    // delta-chain preservation: a retained delta manifest resolves
    // through versions below it — if the oldest retained version is a
    // delta, dropping the prefix would break every retained read. Before
    // dropping anything, MATERIALIZE the oldest retained version into a
    // full checkpoint (same snapshot, same header, kind token removed) —
    // the maintenance-time checkpoint write Delta's VACUUM+checkpoint
    // pairing does. Rewrite-in-place is safe: the file list it denotes is
    // byte-equal to what the chain resolved, and rename(OVERWRITE) is
    // atomic, so a concurrent reader sees either spelling of the same
    // snapshot.
    if (dropped.nonEmpty && kept.nonEmpty) {
      val oldest = kept.head
      val info = parseInfo(manifestLines(s, table, oldest))
      if (info.get("kind").contains("delta")) {
        val full = snapshotLines(s, table, oldest) // chain intact here
        val header = "#" + (info - "kind").toSeq
          .sortBy { case (k, _) => (k != "ts", k != "op", k) }
          .map { case (k, v0) => s" $k=$v0" }.mkString
        renameInLog(s, table,
          stage(f, table, header + "\n" + full.mkString("\n") + "\n"),
          oldest, Options.Rename.OVERWRITE)
      }
    }
    val keptLines = kept.flatMap(snapshotLines(s, table, _))
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    // reclaim the files under every `<root>/<uuid>/` dir that no retained
    // manifest references, uniformly age-gated (see above); a dir goes
    // whole (husks included) only when every part is aged past the grace
    // window and the dir itself is too — a younger dir may belong to an
    // in-flight writer or a racing restore's resolved-but-unpublished
    // target
    def sweep(root: String, referenced: Set[String]): Int = {
      val rootDir = new Path(table, root)
      if (!f.exists(rootDir)) 0
      else f.listStatus(rootDir).toSeq.filter(_.isDirectory).map { dir =>
        val (live, unref) = parquetUnder(f, dir.getPath,
          s"$root/${dir.getPath.getName}").partition(p => referenced(p._2))
        val reclaimable = unref.filter(_._1.getModificationTime < cutoff)
        if (live.isEmpty && reclaimable.size == unref.size &&
            dir.getModificationTime < cutoff) {
          f.delete(dir.getPath, true)
          reclaimable.size
        } else reclaimable.count(p => f.delete(p._1.getPath, false))
      }.sum
    }
    // a sidecar a retained manifest references must survive — reclaiming
    // one would corrupt every read of its file; a compacted-away vector
    // is dropped-manifest history exactly like its data files
    val deleted = sweep("data", keptLines.map(pathOf).toSet) +
      sweep("dv", keptLines.flatMap(dvTokensOf).toSet)
    dropped.foreach(v => f.delete(manifestPath(table, v), false))
    if (f.exists(logDir(table)))
      f.listStatus(logDir(table)).toSeq
        .filter(p => p.getPath.getName.contains(".tmp-") &&
          p.getModificationTime < cutoff)
        .foreach(p => f.delete(p.getPath, false))
    deleted
  }
}
