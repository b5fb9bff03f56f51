package graft.queries

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Physical-layout operators (SURVEY §4.2 rows: partition pruning — static
  * and dynamic — and bucketing): the storage-side levers that matter at
  * 100 TB. Each query materializes the layout it demonstrates into the temp
  * warehouse, then runs a query whose plan must show the pruning/co-location
  * (asserted in PhysicalSpec); results are oracle-checked against the plain
  * unpartitioned tables.
  */
object Physical {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)
  /** orders partitioned by order year — written once per (run, sfDir). */
  private def partitionedOrders(s: SparkSession, d: String): DataFrame = {
    val path = graft.Staging.dir("graft_phys_orders_by_year", d)
    if (!graft.Staging.isStaged(path)) {
      t(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(path)
    }
    s.read.parquet(path)
  }

  /** lineitem + orders bucketed+sorted by the join key — written once per
    * session; returns the two table names. Bucketing is a table layout, so
    * the write belongs to staging, not to the join being demonstrated.
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val wh = graft.Staging.dir("graft_phys_bucketed_wh", d)
    val li = "graft_li_bucketed"
    val ord = "graft_ord_bucketed"
    // gate on BOTH tables: a run that crashed between the two writes must
    // re-stage (mode=overwrite makes the recovery idempotent), not skip
    // staging and fail later on the missing second table
    if (!s.catalog.tableExists(li) || !s.catalog.tableExists(ord)) {
      t(s, d, "lineitem")
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").option("path", s"$wh/li").saveAsTable(li)
      t(s, d, "orders")
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").option("path", s"$wh/ord").saveAsTable(ord)
    }
    (li, ord)
  }

  /** The SORTED-single-file variant of [[bucketedTables]]: repartition(8,
    * key) before the bucketed write puts each bucket's rows in exactly ONE
    * task (repartition's HashPartitioning and the bucket spec share the
    * same murmur3+pmod), so every bucket lands in ONE file — the
    * precondition for Spark to trust the per-bucket sortBy order at scan
    * time and plan a sort-merge join with NO Sort on either side.
    */
  private def sortedBucketTables(s: SparkSession, d: String)
      : (String, String) = {
    val wh = graft.Staging.dir("graft_phys_sbucket_wh", d)
    val li = "graft_li_sbucket"
    val ord = "graft_ord_sbucket"
    if (!s.catalog.tableExists(li) || !s.catalog.tableExists(ord)) {
      t(s, d, "lineitem").repartition(8, col("l_orderkey"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").option("path", s"$wh/li").saveAsTable(li)
      t(s, d, "orders").repartition(8, col("o_orderkey"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").option("path", s"$wh/ord").saveAsTable(ord)
    }
    (li, ord)
  }

  /** orders + customer as managed tables with catalog statistics — the
    * CBO demo's input. Table creation is gated (write-once); ANALYZE runs
    * on every call — it is cheap (metadata-size scan) and keeps the stats
    * current if another run re-staged the tables. Registered in the
    * shared catalog, so the caller's isolated newSession sees them.
    */
  private[graft] def statsTables(s: SparkSession, d: String)
      : (String, String) = {
    val wh = graft.Staging.dir("graft_phys_stats_wh", d)
    // table names keyed by the sanitized dataset dir (same rule as
    // Staging.dir's paths): gating on a GLOBAL name while the data path
    // is keyed by `d` means a session/metastore that touches two data
    // dirs (sf0.01 then sf0.1) would silently serve the first dir's rows
    // under the second's query (r10 ADVICE)
    val key = d.replaceAll("[^a-zA-Z0-9]", "_")
    val ord = s"graft_stats_orders_$key"
    val cust = s"graft_stats_customer_$key"
    if (!s.catalog.tableExists(ord) || !s.catalog.tableExists(cust)) {
      t(s, d, "orders").write.mode("overwrite")
        .option("path", s"$wh/orders").saveAsTable(ord)
      t(s, d, "customer").write.mode("overwrite")
        .option("path", s"$wh/cust").saveAsTable(cust)
    }
    s.sql(s"ANALYZE TABLE $ord COMPUTE STATISTICS " +
      "FOR COLUMNS o_custkey, o_totalprice")
    s.sql(s"ANALYZE TABLE $cust COMPUTE STATISTICS " +
      "FOR COLUMNS c_custkey, c_mktsegment")
    (ord, cust)
  }

  /** The one resident cached slice of `cache_reuse_scan` — (dataset dir,
    * persisted frame). See the query's comment for the residency rule.
    */
  private val cacheSlot = new java.util.concurrent.atomic
    .AtomicReference[(String, org.apache.spark.sql.DataFrame)](null)

  /** orders re-materialized as ORC — written once per (run, sfDir). */
  private def orcOrders(s: SparkSession, d: String): DataFrame = {
    val path = graft.Staging.dir("graft_phys_orders_orc", d)
    if (!graft.Staging.isStaged(path))
      t(s, d, "orders").write.mode("overwrite").orc(path)
    s.read.orc(path)
  }

  /** Orders staged with a parquet BLOOM FILTER on o_custkey — the
    * point-lookup layout: min/max row-group stats can't skip on a
    * high-cardinality key scattered across every row group (every
    * group's [min,max] spans the probe), but the per-row-group bloom
    * answers "custkey definitely absent" and the reader skips the
    * group without touching its pages. At 100 TB this is the
    * difference between a full-column scan and reading a handful of
    * row groups for a needle query. sortWithinPartitions tightens
    * locality so most groups are bloom-negative; PhysicalSpec asserts
    * the footer actually carries the bloom offsets.
    */
  private[graft] def bloomOrders(s: SparkSession, d: String): DataFrame = {
    val path = graft.Staging.dir("graft_phys_orders_bloom", d)
    if (!graft.Staging.isStaged(path)) {
      // The bloom knobs ride the WRITE's own options (which land on that
      // job's conf only) — mutating the shared sparkContext hadoop conf
      // and unset()ing in finally clobbered any pre-existing user values
      // and raced concurrent writes on the same session. Dictionary
      // encoding must be OFF for the key column: parquet-mr drops the
      // bloom when a chunk ends fully dictionary-encoded (the dict is
      // already an exact membership filter) — which every column is at
      // fixture scale, so the staged layout would silently carry no
      // bloom to test. At 100 TB a high-cardinality key overflows the
      // dictionary page anyway, so plain-encoding it here mirrors the
      // real layout rather than fighting it.
      t(s, d, "orders")
        .repartition(4)
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(path)
    }
    s.read.parquet(path)
  }

  /** events re-clustered on the Z-curve of (user_id, floor(value)) —
    * written once per (run, sfDir); 8 files, each covering a small
    * rectangle of the (user, value) space instead of a stripe.
    */
  private def zorderEvents(s: SparkSession, d: String): String = {
    val path = graft.Staging.dir("graft_phys_events_zorder", d)
    if (!graft.Staging.isStaged(path)) {
      Tables.events(s, d)
        .withColumn("__z", graft.operators.ZOrder.interleave(
          col("user_id"), floor(col("value"))))
        .repartitionByRange(8, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** documents shattered into 64 tiny files — the "small files problem"
    * fixture the compaction query consumes. Staged once per (run, sfDir).
    */
  private def fragmentedDocs(s: SparkSession, d: String): String = {
    val path = graft.Staging.dir("graft_phys_docs_fragmented", d)
    if (!graft.Staging.isStaged(path))
      t(s, d, "documents").repartition(64)
        .write.mode("overwrite").parquet(path)
    path
  }

  /** One-off layout staging for every Physical query — idempotent. Bench
    * calls this before its timed loop so the per-query numbers measure the
    * pruning/co-located-join cost, not the one-time table writes.
    */
  def ensureStaged(s: SparkSession, d: String): Unit = {
    partitionedOrders(s, d)
    bucketedTables(s, d)
    sortedBucketTables(s, d)
    orcOrders(s, d)
    bloomOrders(s, d)
    zorderEvents(s, d)
    fragmentedDocs(s, d)
    manifestSinkStaged(s, d)
    txnOverwriteStaged(s, d)
    statsManifestStaged(s, d)
    mergeSinkStaged(s, d)
    compactTxnStaged(s, d)
    concurrentAppendStaged(s, d)
    schemaEvoStaged(s, d)
    vacuumSinkStaged(s, d)
    vacuumReportSinkStaged(s, d)
    cdcReplicaStaged(s, d)
    ivmViewStaged(s, d)
    joinIvmStaged(s, d)
    checkpointSinkStaged(s, d)
    pairTxnStaged(s, d)
    cloneSinkStaged(s, d)
    dvSinkStaged(s, d)
    wapSinkStaged(s, d)
    partEvoStaged(s, d)
    ()
  }

  // ---- the manifest log ---------------------------------------------
  //
  // Every catalog fixture and `sink_*` key below is a composition of the
  // few primitives in this section — the Delta-Lake design (Armbrust et
  // al., VLDB 2020) reduced to its committing core: data files land
  // first (`writeParts`), then ONE atomic publish (`publish`: temp file,
  // then rename) makes a numbered manifest listing every live file
  // visible; readers resolve one manifest (`resolve`) and scan only its
  // files (`manifestRead`). What this buys at 100 TB: a writer that dies
  // after writing data but before its manifest rename leaves ORPHANS
  // that no reader ever sees (no partial commits), concurrent readers
  // get snapshot isolation for free (their manifest never mutates), and
  // old manifests are retained time-travel points. Layout under a table
  // `path`: `_commits/vNNNNN.manifest` (`#` meta lines first, then one
  // data file per line), `_commits/vNNNNN.checkpoint` plus the
  // `_last_checkpoint` pointer, `_commits/vacuum_NNNNN.tombstone|.done`,
  // and the numbered-record logs `_refs/<ref>/NNNNN.ref` and
  // `_pairs/NNNNN.pair`.

  private def hfs(s: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def commitsDir(path: String) = new Path(path, "_commits")

  private def manifestName(version: Int): String =
    f"v$version%05d.manifest"

  private def checkpointName(version: Int): String =
    f"v$version%05d.checkpoint"

  /** The version a `v`-numbered log file name carries (a manifest unless
    * `suffix` says otherwise); None for every other file in the log.
    */
  private[graft] def logVersion(name: String,
      suffix: String = ".manifest"): Option[Int] =
    if (!name.startsWith("v") || !name.endsWith(suffix)) None
    else name.slice(1, name.length - suffix.length).toIntOption

  /** Sorted file names under `dir` (none when `dir` does not exist). */
  private def names(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName).sorted.toSeq

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Write `lines` to a writer-unique temp file beside `dir/name` —
    * racing writers must never share one — and return it.
    */
  private def writeTmp(fs: FileSystem, dir: Path, name: String,
      lines: Seq[String]): Path = {
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".$name.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    tmp
  }

  /** The one atomic publish: write a temp file, then rename it to
    * `dir/name`. The rename IS the commit — a crash before it leaves no
    * file, a crash after it a complete one, never a torn list.
    */
  private def publish(fs: FileSystem, dir: Path, name: String,
      lines: Seq[String]): Unit =
    require(fs.rename(writeTmp(fs, dir, name, lines), new Path(dir, name)),
      s"publish of $dir/$name failed: rename refused")

  /** Every `part-` data file under `dir`, recursively, in path order —
    * the one listing behind both commits and vacuum.
    */
  private def partFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    if (fs.exists(dir)) {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-")) out += f
      }
    }
    out.sortBy(_.getPath.toString).toSeq
  }

  /** Write `df` as parquet to `dir` (replacing it) and return its sorted
    * `part-` files: the data half of every commit.
    */
  private[graft] def writeParts(df: DataFrame, dir: String): Seq[String] = {
    df.write.mode("overwrite").parquet(dir)
    partFiles(hfs(df.sparkSession, dir), new Path(dir))
      .map(_.getPath.toString)
  }

  /** Publish `files` as manifest `version`. `meta` lines (each starting
    * with `#`, e.g. `# batch=3`) ride at the top of the manifest so a
    * commit can carry transaction markers — the idempotence token the
    * streaming foreachBatch committer replays against.
    */
  private[graft] def commitManifest(s: SparkSession, path: String,
      version: Int, files: Seq[String], meta: Seq[String] = Nil): Unit =
    publish(hfs(s, path), commitsDir(path), manifestName(version),
      meta ++ files)

  // one lock per log path: the in-process arbiter for version claims —
  // see commitManifestCas
  private val casLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Optimistic-concurrency commit (compare-and-swap): base the new file
    * list on the CURRENT latest version and try to claim the next
    * version number with a rename — the Delta/Iceberg concurrent-append
    * protocol reduced to its primitive. The loser re-reads the log,
    * REBASES its appended files onto the winner's list, and retries.
    * Append-only (no conflicting rewrites), so a rebase is always safe;
    * a rewrite-class transaction would instead have to re-validate its
    * read set before retrying. Returns the version number won.
    *
    * Who arbitrates the claim is filesystem-specific, exactly as it is
    * for every real transaction log:
    *  - `file:` — POSIX rename silently OVERWRITES, so rename cannot
    *    arbitrate (two same-version claims would both "succeed" and the
    *    first commit would vanish — the r14 lost-update bug). The claim
    *    is instead `link(2)` via [[claimVersion]]: a hard link to an
    *    existing destination fails ATOMICALLY in the kernel, across
    *    processes, no check-then-act window. This makes multi-DRIVER
    *    writers on a shared local/NFS-like mount safe, not just
    *    documented-unsafe.
    *  - HDFS/ABFS — rename REFUSES an existing destination atomically;
    *    the rename itself arbitrates.
    *  - S3-like connectors whose rename is copy+delete (neither atomic
    *    nor refuse-existing) — no client-side primitive exists; the
    *    read-back `# txn=` verification below turns a silently lost
    *    update into a loud failure, and a conditional-write LogStore or
    *    external arbiter remains the deployment contract (Delta-on-S3's
    *    position).
    * The per-log JVM lock stays as a cheap in-process serializer so
    * same-driver writers don't burn claim attempts against each other.
    */
  private[graft] def commitManifestCas(s: SparkSession, path: String,
      newFiles: Seq[String], meta: Seq[String] = Nil): Int = {
    val fs = hfs(s, path)
    val dir = commitsDir(path)
    val lock = casLocks.computeIfAbsent(path, _ => new Object)
    var attempt = 0
    while (attempt < 50) {
      val won = lock.synchronized {
        val (last, base, _) = resolve(s, path)
        val v = last + 1
        // writer-unique txn marker: consumed only by the post-claim
        // verification (every manifest reader skips `#` lines)
        val txn = s"# txn=${java.util.UUID.randomUUID()}"
        val dst = new Path(dir, manifestName(v))
        val tmp = writeTmp(fs, dir, dst.getName,
          meta ++ Seq(txn) ++ base ++ newFiles)
        val claimed = claimVersion(fs, tmp, dst)
        if (claimed) {
          // fail-fast against a same-version clobber on stores whose
          // rename neither refuses nor atomically replaces: a "won"
          // claim whose destination does not carry OUR txn marker means
          // another writer overwrote it — losing silently is the one
          // outcome a transaction log must never have
          val back = readManifestLines(s, path, dst.getName)
          if (!back.contains(txn))
            throw new IllegalStateException(
              s"CAS commit v$v under $path was overwritten by a " +
                "concurrent writer after claim — this filesystem's " +
                "rename cannot arbitrate multi-process commits; use an " +
                "atomic-rename store or an external arbiter")
        }
        fs.delete(tmp, false) // winner: second link / no-op; loser: cleanup
        if (claimed) Some(v) else None
      }
      won match {
        case Some(v) => return v
        case None => attempt += 1 // lost the race: rebase and retry
      }
    }
    throw new IllegalStateException(
      s"CAS commit starved after $attempt attempts under $path")
  }

  /** Atomically claim `dst` with the content at `tmp`; true iff this
    * writer won. On `file:` the claim is a hard link — `link(2)` fails
    * with EEXIST atomically in the kernel, so it arbitrates ACROSS
    * PROCESSES where POSIX rename (which overwrites) cannot. Elsewhere
    * it is rename-if-absent, atomic on HDFS-contract stores. Factored
    * out so the race spec can drive the primitive WITHOUT the per-log
    * JVM lock — two bare claims of one version must still resolve to
    * exactly one winner.
    */
  private[graft] def claimVersion(fs: FileSystem, tmp: Path,
      dst: Path): Boolean =
    if ("file" == fs.getUri.getScheme) {
      def local(p: Path) =
        java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      try { java.nio.file.Files.createLink(local(dst), local(tmp)); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else !fs.exists(dst) && fs.rename(tmp, dst)

  /** LOG retention — the manifest-file twin of the data vacuum: keep the
    * newest `keepLast` manifests, delete the older ones. Time travel
    * beyond the horizon fails LOUDLY ([[resolve]]'s "never committed"
    * require), never silently serves wrong data, and the data vacuum
    * stays safe because it derives its keep-set from the manifests that
    * still exist. Each delete is independent and idempotent, so no
    * tombstone is needed: a crash mid-truncation just leaves some extra
    * history. Tombstone/done audit files are kept.
    */
  private[graft] def vacuumLog(s: SparkSession, path: String,
      keepLast: Int): Int = {
    require(keepLast >= 1, "log retention must keep the live version")
    val fs = hfs(s, path)
    val old = listCommits(s, path).dropRight(keepLast)
    old.foreach(n => fs.delete(new Path(commitsDir(path), n), false))
    old.size
  }

  /** Committed manifest names under `path/_commits`, version-sorted. */
  private[graft] def listCommits(s: SparkSession, path: String)
      : Seq[String] =
    names(hfs(s, path), commitsDir(path)).filter(logVersion(_).isDefined)

  /** Raw lines of one committed log file (metadata `#` lines included). */
  private[graft] def readManifestLines(s: SparkSession, path: String,
      name: String): Seq[String] =
    readText(hfs(s, path), new Path(commitsDir(path), name))
      .split("\n").filter(_.nonEmpty).toList

  /** The one version resolver: `asOf` (None = the latest commit) →
    * (version, data-file lines, `#` meta lines). The latest version is
    * parsed from the newest manifest NAME, never `commits.size`: once
    * [[vacuumLog]] ages out old manifests the count under-counts, and a
    * committer numbering from it would re-claim (and on POSIX
    * overwrite) a version readers' histories already hold — so every
    * committer numbers its commit `version + 1` from here. An empty log
    * resolves the latest to (-1, Nil, Nil), the state a committer starts
    * from; a version the log does not hold fails by name.
    */
  private[graft] def resolve(s: SparkSession, path: String,
      asOf: Option[Int] = None): (Int, Seq[String], Seq[String]) = {
    val commits = listCommits(s, path)
    asOf.orElse(commits.lastOption.flatMap(logVersion(_))) match {
      case None => (-1, Nil, Nil)
      case Some(v) =>
        require(commits.contains(manifestName(v)),
          s"version $v was never committed under $path")
        val (meta, files) = readManifestLines(s, path, manifestName(v))
          .partition(_.startsWith("#"))
        (v, files, meta)
    }
  }

  /** The file-level diff between two committed versions, as (removed,
    * added) — version -1 is the empty table before the first commit.
    */
  private[graft] def fileDiff(s: SparkSession, path: String, from: Int,
      to: Int): (Seq[String], Seq[String]) = {
    def files(v: Int) = if (v < 0) Nil else resolve(s, path, Some(v))._2
    val (a, b) = (files(from), files(to))
    (a.diff(b), b.diff(a))
  }

  /** Read the manifest-committed table at `asOf` (a committed version) or
    * at the latest commit. Only the listed files are scanned — the data
    * directory itself is never globbed, which is exactly why orphans and
    * in-flight writes are invisible. Deletion vectors apply on the way:
    * any `# dv=` sidecars the manifest carries are anti-joined out on
    * (file_path, row_index). The DV side is deleted positions only —
    * kilobytes against a 100 TB scan — so the anti-join broadcasts; a
    * version with no DV line reads with zero overhead (no metadata
    * columns materialized).
    */
  private[graft] def manifestRead(s: SparkSession, path: String,
      asOf: Option[Int]): DataFrame = {
    val (v, files, meta) = resolve(s, path, asOf)
    require(v >= 0, s"no committed manifest under $path")
    val data = s.read.parquet(files: _*)
    val dvs = meta.filter(_.startsWith("# dv=")).map(_.stripPrefix("# dv="))
    if (dvs.isEmpty) data
    else data
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("row_index", col("_metadata.row_index"))
      .join(broadcast(dvs.map(s.read.parquet(_)).reduce(_ unionByName _)),
        Seq("file_path", "row_index"), "left_anti")
      .select(data.columns.toSeq.map(col): _*)
  }

  // ---- numbered-record logs (refs, pairs) ---------------------------
  //
  // A pointer is an append-only log of numbered one-line records
  // (`NNNNN<suffix>`, last record wins), each published by the same
  // write-temp + rename primitive as a manifest: a mutate-in-place
  // pointer (delete + rename) has a crash window with NO pointer on
  // filesystems without atomic replace, while an append-only log always
  // leaves the previous record serving reads.

  private def records(fs: FileSystem, dir: Path, suffix: String) =
    names(fs, dir).filter(_.endsWith(suffix))

  private def appendRecord(s: SparkSession, dir: String, suffix: String,
      record: String): Unit = {
    val (fs, d) = (hfs(s, dir), new Path(dir))
    val seq = records(fs, d, suffix).lastOption
      .map(_.stripSuffix(suffix).toInt + 1).getOrElse(0)
    publish(fs, d, f"$seq%05d$suffix", Seq(record))
  }

  private def lastRecord(s: SparkSession, dir: String,
      suffix: String): Option[String] = {
    val (fs, d) = (hfs(s, dir), new Path(dir))
    records(fs, d, suffix).lastOption
      .map(n => readText(fs, new Path(d, n)).trim)
  }

  /** Point `ref` at `version`: append to the ref's own record log. */
  private[graft] def publishRef(s: SparkSession, path: String,
      ref: String, version: Int): Unit =
    appendRecord(s, s"$path/_refs/$ref", ".ref", version.toString)

  /** Resolve a named ref to its published version (None if never
    * published): the LAST record of the ref log.
    */
  private[graft] def readRef(s: SparkSession, path: String,
      ref: String): Option[Int] =
    lastRecord(s, s"$path/_refs/$ref", ".ref").map(_.toInt)

  // ---- multi-table atomic commit (pair log) ------------------------
  //
  // A fact table and its materialized view each have their own manifest
  // log; committing them one-at-a-time opens the classic cross-table
  // window where a reader resolves NEW fact + OLD view (a dashboard
  // that disagrees with its drill-down). The pair log closes it with
  // the same one-file-rename primitive as everything else in this
  // family: one appended record carries BOTH version numbers, so the
  // (fact, view) pair advances atomically or not at all — a writer
  // that dies between the two single-table commits has published
  // nothing (the new versions exist in their logs but no pair record
  // points at them), exactly Delta's multi-table-transaction gap and
  // the reason engines that close it (e.g. a catalog-level commit)
  // arbitrate through ONE atomic pointer swap.

  /** Append a (factVersion, viewVersion) record to `path/_pairs`. */
  private[graft] def pairCommit(s: SparkSession, path: String,
      factV: Int, viewV: Int): Unit =
    appendRecord(s, s"$path/_pairs", ".pair", s"$factV,$viewV")

  /** Resolve the latest atomically-published (fact, view) version pair. */
  private[graft] def readPair(s: SparkSession,
      path: String): Option[(Int, Int)] =
    lastRecord(s, s"$path/_pairs", ".pair").map { txt =>
      val Array(f, v) = txt.split(",")
      (f.toInt, v.toInt)
    }

  // ---- retention VACUUM over the manifest log ----------------------
  //
  // The missing fourth leg of the txn story (write / read / evolve /
  // GC): versioned manifests keep every superseded and failed write's
  // files on disk forever, and at 100 TB the orphan pile IS the storage
  // bill. The protocol is tombstone-then-delete, the only order that is
  // crash-safe: the tombstone (a committed file list) is written
  // atomically BEFORE any physical delete, so a vacuum that dies
  // mid-delete leaves a readable table plus a resumable work list —
  // deletes are idempotent, so replaying the tombstone finishes the job.
  // Manifests themselves are never deleted (log retention is a separate
  // axis, exactly Delta's split): version numbering stays dense for the
  // CAS committer and expired versions fail on their missing FILES, not
  // on a missing log entry.

  /** `part-` files under `path/data` that none of the manifests
    * `commits` references — O(#files) metadata, no data read.
    */
  private def unreferenced(s: SparkSession, path: String,
      commits: Seq[String]): Seq[FileStatus] = {
    val keep = commits.flatMap(c =>
      readManifestLines(s, path, c).filterNot(_.startsWith("#")))
      .map(f => new Path(f).toString).toSet
    partFiles(hfs(s, path), new Path(path, "data"))
      .filterNot(f => keep.contains(f.getPath.toString))
  }

  /** Data files deletable under retention-N: every `part-` file in the
    * data dir that is (a) not referenced by any of the last `retain`
    * manifests and (b) not newer than the newest manifest — (b) is the
    * in-flight-writer guard: a concurrent writer's staged-but-uncommitted
    * files are younger than the latest commit, while a crashed writer's
    * orphans age past it.
    */
  private[graft] def vacuumPlan(s: SparkSession, path: String,
      retain: Int): Seq[String] = {
    val commits = listCommits(s, path)
    require(retain >= 1, "retention must keep at least the live version")
    require(commits.nonEmpty, s"no committed manifest under $path")
    val latestMtime = hfs(s, path).getFileStatus(
      new Path(commitsDir(path), commits.last)).getModificationTime
    unreferenced(s, path, commits.takeRight(retain))
      .filter(_.getModificationTime <= latestMtime)
      .map(_.getPath.toString)
  }

  /** Commit the vacuum's work list as a numbered tombstone under
    * `_commits` (published like a manifest; the `.tombstone` suffix keeps
    * it out of [[listCommits]]). Returns None when nothing is deletable.
    * A tombstoned file is CONDEMNED — readers at retained versions never
    * referenced it, so publishing the list before deleting loses nothing
    * and gains restartability.
    */
  private[graft] def vacuumTombstone(s: SparkSession, path: String,
      retain: Int): Option[String] = {
    val doomed = vacuumPlan(s, path, retain)
    if (doomed.isEmpty) None
    else {
      val fs = hfs(s, path)
      val n = names(fs, commitsDir(path)).count(_.endsWith(".tombstone"))
      val name = f"vacuum_$n%05d.tombstone"
      publish(fs, commitsDir(path), name, s"# retain=$retain" +: doomed)
      Some(name)
    }
  }

  /** Execute (or finish, after a crash) every tombstone that has no
    * `.done` marker: physically delete its files — idempotent, a missing
    * file is already-done work — then mark it complete. Returns the
    * number of delete calls issued. Run at vacuum start AND at recovery:
    * a vacuum that died between tombstone and deletes resumes here.
    */
  private[graft] def vacuumResume(s: SparkSession, path: String): Int = {
    val fs = hfs(s, path)
    val all = names(fs, commitsDir(path))
    var deleted = 0
    all.filter(_.endsWith(".tombstone")).foreach { t =>
      val done = t.stripSuffix(".tombstone") + ".done"
      if (!all.contains(done)) {
        readManifestLines(s, path, t).filterNot(_.startsWith("#"))
          .foreach { f => if (fs.delete(new Path(f), false)) deleted += 1 }
        fs.create(new Path(commitsDir(path), done), true).close()
      }
    }
    deleted
  }

  /** Retention-N vacuum: finish any interrupted run, tombstone the
    * currently deletable set, delete it. Returns (files condemned this
    * run, delete calls issued including resumed work).
    */
  private[graft] def vacuumRetention(s: SparkSession, path: String,
      retain: Int): (Int, Int) = {
    val resumed = vacuumResume(s, path)
    val condemned = vacuumTombstone(s, path, retain)
      .map(t => readManifestLines(s, path, t)
        .count(!_.startsWith("#"))).getOrElse(0)
    val deleted = vacuumResume(s, path)
    (condemned, resumed + deleted)
  }

  // ---- DELTA-manifest log with periodic checkpoints ------------------
  //
  // The full-list manifest log above re-states every live file per
  // version — one read resolves any version, but each commit is
  // O(table files). A DELTA log (each commit records only +added /
  // -removed paths, the Delta-Lake json / Iceberg manifest-list shape)
  // makes commits O(changed files) — and then a reader is O(versions)
  // unless checkpoints exist: a periodic full snapshot
  // (`v%05d.checkpoint`) plus a `_last_checkpoint` pointer, so a read
  // opens the pointer, one checkpoint, and exactly (v − ck) delta
  // manifests however long the history grows. That pointer-hop is the
  // entire reason a 100 TB table with 100k commits still plans in
  // milliseconds.

  private[graft] def deltaLogCommit(s: SparkSession, path: String,
      version: Int, added: Seq[String], removed: Seq[String]): Unit =
    commitManifest(s, path, version,
      removed.map("-" + _) ++ added.map("+" + _))

  /** Full snapshot at `version` + the `_last_checkpoint` pointer —
    * pointer written LAST, so a crash between the two leaves readers on
    * the previous checkpoint (slower, never wrong).
    */
  private[graft] def writeCheckpoint(s: SparkSession, path: String,
      version: Int, files: Seq[String]): Unit = {
    val fs = hfs(s, path)
    val dir = commitsDir(path)
    publish(fs, dir, checkpointName(version), files)
    // the pointer gets the same temp-file treatment as the checkpoint:
    // an in-place create() leaves a torn/empty pointer on a mid-write
    // crash, turning every latest-read into a parse failure
    val ptmp = writeTmp(fs, dir, "_last_checkpoint", Seq(version.toString))
    val ptr = new Path(dir, "_last_checkpoint")
    // delete-then-rename is NOT atomic (rename-over is not atomic-replace
    // on HDFS): a crash or failed rename in this window leaves no pointer
    // until the next checkpoint, and the latest-read then degrades to the
    // listing scan in [[checkpointResolve]] — slower, never wrong. So a
    // failed delete (stale pointer survives: still correct, extra deltas
    // replay) or failed rename is tolerated, not fatal: the pointer is a
    // read optimization, the checkpoint file above is the commit.
    if (fs.delete(ptr, false) || !fs.exists(ptr)) {
      if (!fs.rename(ptmp, ptr))
        System.err.println("[checkpoint] _last_checkpoint rename failed — " +
          "latest-read falls back to the listing scan until the next publish")
    } else {
      // delete failed with the pointer still present: the STALE pointer
      // survives (correct — extra deltas replay on top of the older
      // checkpoint), but a persistently failing delete must be visible,
      // not silent (r19 ADVICE)
      System.err.println(s"[checkpoint] _last_checkpoint delete failed — " +
        s"stale pointer (pre-v$version) kept; extra deltas replay until " +
        "the next successful publish")
    }
    // drop a tmp the swap did not consume (a no-op after a successful
    // rename), so repeated failing publishes don't accumulate
    try fs.delete(ptmp, false) catch { case _: Throwable => () }
  }

  /** Resolve the live file set at `asOf` (None = latest): latest read
    * follows `_last_checkpoint` (one pointer read — no log listing scan
    * for the checkpoint), time-travel scans the listing for the newest
    * checkpoint ≤ asOf; then exactly (asOf − ck) delta manifests replay
    * on top. Returns (files, checkpointVersion, deltasOpened) so the
    * spec can count the opens.
    */
  private[graft] def checkpointResolve(s: SparkSession, path: String,
      asOf: Option[Int]): (Seq[String], Int, Int) = {
    val fs = hfs(s, path)
    val all = names(fs, commitsDir(path))
    val cks = all.flatMap(logVersion(_, ".checkpoint"))
    val target = asOf.getOrElse(all.flatMap(logVersion(_)).max)
    val ck = asOf match {
      case None =>
        val p = new Path(commitsDir(path), "_last_checkpoint")
        // a torn/empty pointer (crash mid-write on a non-atomic FS)
        // degrades to the listing scan — slower, never wrong
        val pointed =
          if (!fs.exists(p)) None else readText(fs, p).trim.toIntOption
        pointed.getOrElse(cks.lastOption.getOrElse(-1))
      case Some(v) => cks.filter(_ <= v).lastOption.getOrElse(-1)
    }
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    if (ck >= 0) live ++= readManifestLines(s, path, checkpointName(ck))
    val deltas = (ck + 1) to target
    deltas.foreach { v =>
      readManifestLines(s, path, manifestName(v)).foreach { l =>
        if (l.startsWith("+")) live += l.drop(1)
        else if (l.startsWith("-")) live -= l.drop(1)
      }
    }
    (live.toSeq, ck, deltas.size)
  }

  // ---- catalog fixtures ----------------------------------------------

  /** A fixture under `Staging.dir(prefix, d)`, rebuilt from an empty
    * directory by `build` whenever the source `tables` (orders by
    * default) change, else reused.
    */
  private def restaged(s: SparkSession, d: String, prefix: String,
      tables: String*)(build: String => Unit): String = {
    val path = graft.Staging.dir(prefix, d)
    val stamp = graft.Staging.fingerprint(s,
      (if (tables.isEmpty) Seq("orders") else tables)
        .map(n => s"$d/$n.parquet"): _*)
    if (!graft.Staging.isCurrent(path, stamp)) {
      hfs(s, path).delete(new Path(path), true)
      build(path)
      graft.Staging.commitStamped(path, stamp)
    }
    path
  }

  /** The three orders columns the catalog fixtures commit. */
  private def orderRows(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")

  /** Write the orders rows matching `p` (as `nFiles` files when > 0) to
    * `path/data/sub` and return the part files.
    */
  private def orderSlice(s: SparkSession, d: String, path: String,
      sub: String, p: Column, nFiles: Int = 0): Seq[String] = {
    val rows = orderRows(s, d).filter(p)
    writeParts(if (nFiles > 0) rows.repartition(nFiles) else rows,
      s"$path/data/$sub")
  }

  /** Split `files` of an orders-keyed log by whether they hold a key in
    * the [40%, 50%] band of the o_orderkey domain (derived, never
    * hardcoded): (lo, hi, touched, untouched). Discovery is one
    * distributed pass over the snapshot's `_metadata.file_path` column —
    * the collect is O(#files), no footer is opened on the driver.
    */
  private def keyBand(s: SparkSession, d: String, files: Seq[String])
      : (Long, Long, Seq[String], Seq[String]) = {
    val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
    val lo = math.floor(mx * 0.40).toLong
    val hi = math.floor(mx * 0.50).toLong
    val touched = s.read.parquet(files: _*)
      .select(col("o_orderkey"), col("_metadata.file_path").as("fp"))
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
      .select("fp").distinct().collect()
      .map(r => new Path(r.getString(0)).toString).toSet
    val untouched = files.filterNot(f => touched.contains(new Path(f).toString))
    require(touched.nonEmpty && untouched.nonEmpty,
      "fixture must exercise both rewritten and carried-by-reference " +
        s"files (touched=${touched.size} of ${files.size})")
    (lo, hi, touched.toSeq.sorted, untouched)
  }

  /** Manifest-committed sink: commits v0 (o_orderkey % 3 = 0) then v1
    * (appends % 3 = 1), and then simulates the crashed writer: the
    * % 3 = 2 slice is written to the data dir with NO manifest commit —
    * the oracle proves those bytes are invisible through the manifest
    * read path.
    */
  private[graft] def manifestSinkStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_manifest_sink") { path =>
      val v0 = orderSlice(s, d, path, "v0", col("o_orderkey") % 3 === 0)
      commitManifest(s, path, 0, v0)
      commitManifest(s, path, 1,
        v0 ++ orderSlice(s, d, path, "v1", col("o_orderkey") % 3 === 1))
      // the crashed writer: bytes on disk, no manifest — must stay
      // invisible to every manifest reader
      orderSlice(s, d, path, "orphan", col("o_orderkey") % 3 === 2)
    }

  /** Transactional PARTITION OVERWRITE through the manifest log — the
    * Delta-style `replaceWhere` primitive `sink_partition_overwrite`'s
    * native committer cannot give: that path's "dynamic" mode swaps
    * partition directories in place, so a reader racing the swap can see
    * a mix of old and new files, and the old partition is gone the
    * moment the swap lands. Here the overwrite is ONE manifest rename:
    * v1 = (v0's files minus the replaced partition's) ++ the rewritten
    * files. Readers resolve a manifest and see exactly one snapshot —
    * never a mix; v0 keeps serving as a time-travel point; the replaced
    * files become orphans for vacuum. At 100 TB the commit is
    * O(partition files) metadata, data moves only for the rewritten
    * partition, and a writer crash before the rename (fixture: the
    * uncommitted v2 slice) is invisible by construction.
    * Fixture: v0 = full orders fanned out one subdir per status;
    * v1 = retention rewrite of partition F (keep o_totalprice >
    * 150000); v2 = a crashed overwrite of partition O (no commit).
    */
  private[graft] def txnOverwriteStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_txn_overwrite") { path =>
      // the partition axis is the BOUNDED status domain (3 values)
      val statuses = t(s, d, "orders").select("o_orderstatus")
        .distinct().collect().map(_.getString(0)).sorted
      val v0 = statuses.toSeq.flatMap(st => orderSlice(s, d, path,
        s"v0/status=$st", col("o_orderstatus") === st))
      commitManifest(s, path, 0, v0)
      val newF = orderSlice(s, d, path, "v1/status=F",
        col("o_orderstatus") === "F" && col("o_totalprice") > 150000)
      commitManifest(s, path, 1,
        v0.filterNot(_.contains("/status=F/")) ++ newF)
      // crashed overwrite of partition O: data on disk, no manifest —
      // must stay invisible to every snapshot
      orderSlice(s, d, path, "v2/status=O",
        col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
    }

  /** MERGE (upsert) as a copy-on-write manifest transaction — the
    * missing half of the catalog surface next to `sink_overwrite_txn`'s
    * partition overwrite: match on key, UPDATE matched rows, INSERT
    * unmatched ones, all published by ONE manifest rename. The part that
    * must survive 100 TB is matched-FILE pruning: the target is
    * range-laid-out on the merge key, the matched keys live in one
    * derived key band ([40%, 50%] of the key domain), and only the
    * files CONTAINING a match are rewritten — discovered distributedly
    * from the `_metadata.file_path` column, never by opening footers on
    * the driver. v1 = (v0 minus touched) ++ rewritten ++ inserts;
    * untouched files are carried by reference (zero data movement).
    * A second merge writes its data and CRASHES before the rename — a
    * reader must never see it. v0 keeps serving as the pre-merge
    * snapshot (time travel), the replaced files age into vacuum work.
    * Fixture: target = orders with o_orderkey % 3 ≠ 2; updates set
    * status 'U' inside the key band; inserts = the % 3 = 2 slice.
    */
  private[graft] def mergeSinkStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_merge_sink") { path =>
      // v0: the merge target, range-laid-out on the key so files carry
      // disjoint key ranges — the layout matched-file pruning needs
      val v0 = writeParts(orderRows(s, d).filter(col("o_orderkey") % 3 =!= 2)
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), s"$path/data/v0")
      commitManifest(s, path, 0, v0)
      val (lo, hi, touched, untouched) = keyBand(s, d, v0)
      // rewrite ONLY the touched files whole: matched rows updated,
      // their unmatched neighbors preserved byte-for-value
      val rewrite = writeParts(s.read.parquet(touched: _*)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") >= lo && col("o_orderkey") <= hi,
            lit("U")).otherwise(col("o_orderstatus"))),
        s"$path/data/v1_rewrite")
      // inserts: rows whose key is absent from the target
      val inserts = orderSlice(s, d, path, "v1_insert",
        col("o_orderkey") % 3 === 2)
      commitManifest(s, path, 1, untouched ++ rewrite ++ inserts)
      // the crashed second merge: rewrite written, rename never ran —
      // must stay invisible to every manifest reader
      writeParts(s.read.parquet(v0: _*).withColumn("o_orderstatus", lit("X")),
        s"$path/data/v2_crash")
    }

  /** Compaction as a manifest transaction — the maintenance operation a
    * real log-structured table runs nightly: the live snapshot is
    * re-read THROUGH the manifest, rewritten into a few right-sized
    * files, and republished as a new version whose file list is ONLY
    * the compacted files. Readers flip from 24 small files to 3 in one
    * rename with zero row change; the small files stay referenced by
    * the older manifests (time-travel points) until a vacuum ages them
    * out — compaction never deletes. This is what
    * `sink_compact_smallfiles` cannot give without a log: its rewrite
    * swaps a directory in place, so a reader racing it sees a mix.
    * Fixture: v0 = orders %3=0 fanned into 12 files, v1 appends %3=1
    * as 12 more (24 live), v2 = the compaction commit (≤3 files).
    */
  private[graft] def compactTxnStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_compact_txn") { path =>
      val v0 = orderSlice(s, d, path, "v0", col("o_orderkey") % 3 === 0, 12)
      commitManifest(s, path, 0, v0)
      commitManifest(s, path, 1,
        v0 ++ orderSlice(s, d, path, "v1", col("o_orderkey") % 3 === 1, 12))
      // the compaction: read the LIVE snapshot through the log, rewrite
      // small (one read + one write, no shuffle), publish by reference
      commitManifest(s, path, 2, writeParts(
        manifestRead(s, path, Some(1)).coalesce(3), s"$path/data/compacted"))
    }

  /** Concurrent-append fixture for the CAS committer: v0 seeds the table,
    * then the %3=1 and %3=2 slices land through [[commitManifestCas]] —
    * the path two INDEPENDENT ingest jobs (different sources, same
    * table) take in production, where neither may clobber the other's
    * commit. The fixture commits are sequential (deterministic staging);
    * the real interleavings — two threads racing 4 commits each, every
    * loser rebasing — are driven in TxnOverwriteSpec against a scratch
    * log.
    */
  private[graft] def concurrentAppendStaged(s: SparkSession, d: String)
      : String =
    restaged(s, d, "graft_concurrent_append") { path =>
      Seq("seed", "ingest-a", "ingest-b").zipWithIndex.foreach {
        case (writer, i) =>
          commitManifestCas(s, path, orderSlice(s, d, path, s"w$i",
            col("o_orderkey") % 3 === i), Seq(s"# writer=$writer"))
      }
    }

  /** Schema evolution through the manifest log — the ALTER TABLE ADD
    * COLUMN a log-structured table gets without rewriting a byte: v0's
    * files carry (key, status), v1 appends files that ALSO carry
    * o_totalprice, and the later commit records the WIDER schema as the
    * table contract. Readers resolve the manifest and merge file
    * schemas; v0 rows surface the new column as NULL — the Delta/
    * Iceberg add-column semantics, where old data is never touched and
    * a backfill is an optional later transaction. At 100 TB this is the
    * only affordable evolution path: the alternative rewrite moves the
    * whole table to add a nullable column.
    */
  private[graft] def schemaEvoStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_schema_evo") { path =>
      val v0 = writeParts(t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_orderstatus"), s"$path/data/v0")
      commitManifest(s, path, 0, v0)
      commitManifest(s, path, 1,
        v0 ++ orderSlice(s, d, path, "v1", col("o_orderkey") % 3 =!= 0))
    }

  /** Range-laid-out orders plus a FILE-STATS manifest (file, min/max of
    * the layout key, rows) — the Iceberg/Delta data-skipping shape: the
    * PLANNER prunes files from a tiny stats table instead of opening
    * every parquet footer. Native footer-stats pruning (the
    * sink_range_partitioned key) still LISTS and opens all footers —
    * O(files) driver metadata I/O that dominates planning at 100 TB;
    * the manifest makes planning O(stats rows read), independent of the
    * data directory. Stats derive from one read-back pass over
    * `_metadata.file_path` — a distributed scan, no driver file walk.
    */
  private[graft] def statsManifestStaged(s: SparkSession, d: String): String = {
    val path = graft.Staging.dir("graft_stats_manifest", d)
    val stamp = graft.Staging.fingerprint(s, s"$d/orders.parquet")
    if (!graft.Staging.isCurrent(s"$path/stats", stamp)) {
      t(s, d, "orders")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(s"$path/data")
      s.read.parquet(s"$path/data")
        .select(col("o_orderkey"), col("_metadata.file_path").as("file"))
        .groupBy("file")
        .agg(min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/stats")
      graft.Staging.commitStamp(s"$path/stats", stamp)
    }
    path
  }

  /** Fixture log for the vacuum keys — built so retention-1 has real
    * work: v0 (6 files) and v1 (append, 6 more) are fully superseded by
    * v2 (a compaction rewrite of the live set), and a crashed writer's
    * orphan slice ages in the data dir. After `vacuumRetention(retain=1)`
    * exactly v2's files remain.
    */
  private[graft] def vacuumSinkStaged(s: SparkSession, d: String): String =
    vacuumSinkStaged(s, d, "graft_vacuum_sink")

  /** The same fixture under a second prefix for `sink_vacuum_report`:
    * the DRY-RUN key must see the pre-vacuum state deterministically,
    * and the primary sink is legally mutated by the destructive vacuum
    * keys (whose execution order relative to the report is not ours to
    * assume). Nothing ever deletes under the report prefix.
    */
  private[graft] def vacuumReportSinkStaged(s: SparkSession,
      d: String): String =
    vacuumSinkStaged(s, d, "graft_vacuum_report")

  private def vacuumSinkStaged(s: SparkSession, d: String,
      prefix: String): String =
    restaged(s, d, prefix) { path =>
      val v0 = orderSlice(s, d, path, "v0", col("o_orderkey") % 3 === 0, 6)
      commitManifest(s, path, 0, v0)
      val v1 = orderSlice(s, d, path, "v1", col("o_orderkey") % 3 === 1, 6)
      commitManifest(s, path, 1, v0 ++ v1)
      // crashed writer's orphan — written BEFORE the final commit so the
      // in-flight guard sees it as aged, exactly a real abandoned write
      orderSlice(s, d, path, "orphan", col("o_orderkey") % 3 === 2, 2)
      // v2 = compaction: the live set rewritten into few files; v0/v1
      // files stay only as time-travel references, i.e. vacuum work
      commitManifest(s, path, 2, writeParts(
        s.read.parquet(v0 ++ v1: _*).coalesce(2), s"$path/data/v2"))
    }

  /** The downstream replica at v0 for `sink_changefeed_apply` — a
    * physical copy of the merge target's pre-merge snapshot, staged once
    * (in production the replica was bootstrapped by an initial full
    * copy; every later sync is feed-apply only, which is the point).
    */
  private[graft] def cdcReplicaStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_cdc_replica_v0") { path =>
      manifestRead(s, mergeSinkStaged(s, d), Some(0))
        .write.mode("overwrite").parquet(path)
    }

  /** Deletion-vector sink (merge-on-read deletes, the Delta DV / Iceberg
    * position-delete shape): v0 writes the table as 4 data files; v1
    * DELETES rows by committing a tiny sidecar of (file_path, row_index)
    * positions plus a manifest that carries the SAME data files by
    * reference and a `# dv=` metadata line — no data file is rewritten.
    * v2 compacts: the DV view is materialized into fresh files and the
    * DV is dropped. At 100 TB this is the difference between a delete
    * that writes kilobytes (positions) and one that rewrites every
    * touched gigabyte file; the read-side cost is one broadcast anti-join
    * against the DV.
    */
  private[graft] def dvSinkStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_dv_sink") { path =>
      val v0 = writeParts(orderRows(s, d).repartition(4), s"$path/data/v0")
      commitManifest(s, path, 0, v0)
      // v1: merge-on-read delete — capture positions, never rows
      val dvDir = s"$path/dv/v00001"
      s.read.parquet(v0: _*)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("row_index"),
          col("o_orderkey"))
        .filter(col("o_orderkey") % 7 === 3)
        .select("file_path", "row_index")
        .coalesce(1)
        .write.mode("overwrite").parquet(dvDir)
      commitManifest(s, path, 1, v0, meta = Seq(s"# dv=$dvDir"))
      // v2: compaction materializes the DV view and drops the sidecar
      commitManifest(s, path, 2, writeParts(
        manifestRead(s, path, Some(1)).coalesce(2), s"$path/data/v2"))
    }

  /** Write-audit-publish sink (the Iceberg-WAP / Delta-branch release
    * workflow): writers COMMIT to the versioned log but production reads
    * resolve through a named REF — a one-line pointer record — and a
    * commit only reaches readers when the audit gate passes and the
    * pointer is atomically advanced. The staged fixture carries the whole
    * story: v0 published, v1 a good batch (audited, published), v2 a bad
    * batch (null keys — audit REJECTS it, main never moves). At 100 TB
    * this is how bad data stays out of dashboards without blocking
    * ingestion: the quarantined commit stays in the log for forensics
    * and vacuum-by-retention, invisible behind the ref.
    */
  private[graft] def wapSinkStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_wap_sink") { path =>
      val base = orderRows(s, d)
      def batch(name: String, df: DataFrame) =
        writeParts(df.coalesce(2), s"$path/data/$name")
      // v0: the published starting point
      val v0 = batch("v0", base.filter(col("o_orderkey") % 3 < 2))
      commitManifest(s, path, 0, v0)
      publishRef(s, path, "main", 0)
      // v1: a good append batch — committed, audited, published
      val v1 = v0 ++ batch("v1", base.filter(col("o_orderkey") % 3 === 2))
      commitManifest(s, path, 1, v1)
      if (auditPasses(s, path, 1)) publishRef(s, path, "main", 1)
      // v2: a BAD batch (null order keys) — committed, audit rejects,
      // main stays at v1; the commit remains in the log, quarantined
      val bad = base.filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_orderkey", lit(null).cast("long"))
      commitManifest(s, path, 2, v1 ++ batch("v2", bad))
      if (auditPasses(s, path, 2)) publishRef(s, path, "main", 2)
    }

  /** The audit gate a candidate version must pass before publishing:
    * key completeness (no null o_orderkey) and non-regression (at least
    * as many rows as the currently published version). Runs AGAINST THE
    * COMMITTED SNAPSHOT — auditing the exact bytes readers would see is
    * the point of write-audit-publish.
    */
  private[graft] def auditPasses(s: SparkSession, path: String,
      version: Int): Boolean = {
    val cand = manifestRead(s, path, Some(version))
    val pub = readRef(s, path, "main")
      .map(v => manifestRead(s, path, Some(v)).count()).getOrElse(0L)
    cand.agg(
        sum(col("o_orderkey").isNull.cast("long")).as("nulls"),
        count(lit(1)).as("n"))
      .collect().headOption.exists(r =>
        r.getLong(0) == 0L && r.getLong(1) >= pub)
  }

  /** Pair-transaction fixture: the VIEW gets its own manifest log under
    * `$path/view` (v0 = per-status aggregate of the merge target's v0
    * snapshot, v1 = of v1), and the pair log publishes (fact 0, view 0)
    * then (fact 1, view 1) — fact versions referencing the SHARED
    * [[mergeSinkStaged]] log. Both artifacts stamp on orders.parquet,
    * so they invalidate together. View sums are DECIMAL (the
    * ivmViewStaged rule): the consistency check is exact equality, not
    * tolerance.
    */
  private[graft] def pairTxnStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_pair_txn") { path =>
      val mp = mergeSinkStaged(s, d)
      Seq(0, 1).foreach { v =>
        commitManifest(s, s"$path/view", v, writeParts(
          manifestRead(s, mp, Some(v))
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
            .coalesce(1), s"$path/view/data/v$v"))
        pairCommit(s, path, v, v)
      }
    }

  /** Shallow-clone fixture (the Delta SHALLOW CLONE / Iceberg snapshot
    * branch shape): the clone's v0 manifest lists the SOURCE's current
    * (v1, post-merge) files BY REFERENCE — zero bytes move, the clone
    * is one manifest write however many petabytes the source holds.
    * The clone then diverges with its own append (the %3=2 keys
    * re-landed under status 'C') committed as clone-v1; the source log
    * is never touched, so the two tables share history up to the clone
    * point and fork after it — dev/test-against-prod-data without a
    * copy, the feature's entire value proposition.
    */
  private[graft] def cloneSinkStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_clone_sink") { path =>
      val (_, srcFiles, _) = resolve(s, mergeSinkStaged(s, d), Some(1))
      commitManifest(s, path, 0, srcFiles)
      val own = writeParts(t(s, d, "orders")
        .filter(col("o_orderkey") % 3 === 2)
        .select(col("o_orderkey"), lit("C").as("o_orderstatus"),
          col("o_totalprice"))
        .coalesce(2), s"$path/data/append")
      commitManifest(s, path, 1, srcFiles ++ own)
    }

  /** Partition-evolution sink (the Iceberg partition-spec-change shape):
    * v0 wrote the table UNPARTITIONED; the spec then evolved, and v1's
    * appended files are hive-partitioned by o_orderstatus — the manifest
    * encodes each evolved file's partition value inline
    * (`path|o_orderstatus=F`), because hive-layout leaf files do not
    * carry the partition column in their data. Old files are never
    * rewritten on a spec change: a status predicate PRUNES the evolved
    * files by manifest metadata alone but must still scan every
    * pre-evolution file (they have no partition info) — exactly the
    * split Iceberg documents, and the reason spec changes are cheap
    * (metadata-only) while full pruning arrives only as old files age
    * out through compaction.
    */
  private[graft] def partEvoStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_partevo_sink") { path =>
      val base = orderRows(s, d)
      val v0 = writeParts(base.filter(col("o_orderkey") % 2 === 0)
        .repartition(2), // coalesce(2) on a 1-file source stays 1 file
        s"$path/data/v0")
      commitManifest(s, path, 0, v0)
      // the evolved append: hive-partitioned, one file per status; each
      // leaf's parent dir name IS its `o_orderstatus=<v>` annotation
      base.filter(col("o_orderkey") % 2 === 1)
        .repartition(1)
        .write.partitionBy("o_orderstatus")
        .mode("overwrite").parquet(s"$path/data/v1")
      val v1 = partFiles(hfs(s, path), new Path(s"$path/data/v1"))
        .map(f => s"${f.getPath}|${f.getPath.getParent.getName}")
      commitManifest(s, path, 1, v0 ++ v1)
    }

  /** Read the partition-evolved table, optionally pruning evolved files
    * to one status by MANIFEST METADATA alone. Pre-evolution files are
    * always scanned (their rows carry the column in data; the predicate
    * pushes into the scan); evolved files matching the wanted status are
    * read and their partition value restored as a literal column. Also
    * returns the (scanned, pruned) file counts — the observable a
    * partition-evolution reader is graded on.
    */
  private[graft] def partEvoRead(s: SparkSession, path: String,
      status: Option[String]): (DataFrame, Int, Int) = {
    val (_, lines, _) = resolve(s, path)
    val (evolved, plain) = lines.partition(_.contains("|o_orderstatus="))
    val byStatus = evolved.map { l =>
      val Array(p, pv) = l.split('|')
      (p, pv.stripPrefix("o_orderstatus="))
    }
    val wanted = status.fold(byStatus)(v => byStatus.filter(_._2 == v))
    val pruned = byStatus.size - wanted.size
    val old = {
      val df = s.read.parquet(plain: _*)
      status.fold(df)(v => df.filter(col("o_orderstatus") === v))
    }
    val evolvedDf = wanted.groupBy(_._2).map { case (v, fs_) =>
      s.read.parquet(fs_.map(_._1): _*)
        .withColumn("o_orderstatus", lit(v))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    }.reduceOption(_ unionByName _)
    val all = evolvedDf.fold(old)(old.unionByName(_))
    (all, plain.size + wanted.size, pruned)
  }

  /** The materialized per-status aggregate of the merge target at v0 —
    * the "view" that `sink_changefeed_ivm` maintains incrementally. Sums
    * are DECIMAL(18,2) (exact, associative), never double: incremental
    * maintenance adds deltas to a years-old running total in arbitrary
    * order, and only exact arithmetic guarantees the maintained view
    * equals a from-scratch recompute bit-for-bit at any scale.
    */
  private[graft] def ivmViewStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_ivm_view_v0") { path =>
      manifestRead(s, mergeSinkStaged(s, d), Some(0))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n0"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rev0"))
        .write.mode("overwrite").parquet(path)
    }

  /** The row-level change feed of the merge sink's v0 → v1 commit —
    * (o_orderkey, st0, tp0, st1, tp1, op) — derived by diffing the two
    * manifests' FILE LISTS first: files carried by reference are
    * identical by construction and are never read, so the feed's cost
    * is O(changed files), not O(table). Rows inside a rewritten file
    * that the merge did NOT match surface on both sides unchanged and
    * are dropped by the op classifier.
    */
  private def mergeFeed(s: SparkSession, d: String): DataFrame = {
    // removed = pre-images (files the merge replaced); added =
    // post-images (rewrites + inserts)
    val (removed, added) = fileDiff(s, mergeSinkStaged(s, d), 0, 1)
    val before = s.read.parquet(removed: _*)
      .select(col("o_orderkey"), col("o_orderstatus").as("st0"),
        col("o_totalprice").as("tp0"))
    val after = s.read.parquet(added: _*)
      .select(col("o_orderkey"), col("o_orderstatus").as("st1"),
        col("o_totalprice").as("tp1"))
    before.join(after, Seq("o_orderkey"), "full_outer")
      .withColumn("op",
        when(col("st0").isNull, "insert")
          .when(col("st1").isNull, "delete")
          .when(col("st0") =!= col("st1") ||
            col("tp0") =!= col("tp1"), "update")
          .otherwise("unchanged"))
      .filter(col("op") =!= "unchanged")
  }

  /** The checkpointed-log fixture: 10 delta commits over orders slices
    * (o_orderkey mod 10), a mid-history COMPACTION (v6 removes the
    * first three slices' files and adds one compacted file — removals
    * are what make delta semantics non-trivial), checkpoints at v4 and
    * v8, `_last_checkpoint` → 8. The live set at v9 is exactly the
    * full orders table through a mixed lineage (compacted + original
    * files), so the aggregate has a plain oracle.
    */
  private[graft] def checkpointSinkStaged(s: SparkSession,
      d: String): String =
    restaged(s, d, "graft_ckpt_sink") { path =>
      var live = Vector.empty[String]
      val bySlice = scala.collection.mutable.Map.empty[Int, Seq[String]]
      def commitAdd(v: Int, slices: Seq[Int], filesPerSlice: Int): Unit = {
        val added = slices.flatMap { sl =>
          bySlice(sl) = orderSlice(s, d, path, s"s$sl",
            col("o_orderkey") % 10 === sl, filesPerSlice)
          bySlice(sl)
        }
        deltaLogCommit(s, path, v, added, Nil)
        live ++= added
      }
      commitAdd(0, Seq(0), 2)
      (1 to 5).foreach(v => commitAdd(v, Seq(v), 1))
      writeCheckpoint(s, path, 4, live.take((0 to 4).map(bySlice(_).size).sum))
      // v6: compaction — slices 0..2 rewritten as ONE file
      val doomed = (0 to 2).flatMap(bySlice(_))
      val compacted = writeParts(s.read.parquet(doomed: _*).coalesce(1),
        s"$path/data/compact012")
      deltaLogCommit(s, path, 6, compacted, doomed)
      live = live.filterNot(doomed.toSet) ++ compacted
      commitAdd(7, Seq(6), 1)
      commitAdd(8, Seq(7), 1)
      writeCheckpoint(s, path, 8, live)
      commitAdd(9, Seq(8, 9), 1)
    }

  /** The JOIN-view IVM fixture — the case where incremental maintenance
    * either works or silently double-counts: a per-SEGMENT aggregate
    * over fact(orders)⨝dim(customer) where BOTH sides change in the
    * same version step. Four staged artifacts under one root:
    *  - `fact/`: manifest log; v0 = the %3≠2 slice (key-ranged files),
    *    v1 = rewrite of the files carrying keys in the [40%, 50%] band
    *    (price +100.00 on band rows, neighbors carried byte-identical)
    *    plus the %3=2 inserts — the mergeSinkStaged file algebra with
    *    o_custkey carried so the join key survives
    *  - `dim/`: manifest log; v0 = (custkey, segment), v1 = every
    *    custkey ≡ 0 (mod 50) reassigned to 'REASSIGNED' (a rewrite —
    *    rows carried unchanged cancel ± in the fold, the same reason
    *    the single-table IVM can diff at file granularity)
    *  - `aux/`: the per-CUSTKEY fact aggregate at v0 — the materialized
    *    subview (DBToaster's higher-order IVM trick) that lets the
    *    dim-delta term join O(|Δdim|) × aux instead of rescanning fact
    *  - `view/`: the per-segment aggregate at v0, DECIMAL sums
    *    (ivmViewStaged's exactness rule).
    */
  private[graft] def joinIvmStaged(s: SparkSession, d: String): String =
    restaged(s, d, "graft_join_ivm2", "orders", "customer") { path =>
      // ---- fact log ----
      val fact0 = t(s, d, "orders").filter(col("o_orderkey") % 3 =!= 2)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val f0 = writeParts(fact0.repartitionByRange(6, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), s"$path/data/f0")
      commitManifest(s, s"$path/fact", 0, f0)
      val (lo, hi, touched, untouched) = keyBand(s, d, f0)
      val rewrite = writeParts(s.read.parquet(touched: _*)
        .withColumn("o_totalprice",
          when(col("o_orderkey") >= lo && col("o_orderkey") <= hi,
            col("o_totalprice") + 100.0).otherwise(col("o_totalprice"))),
        s"$path/data/f1_rewrite")
      val inserts = writeParts(t(s, d, "orders")
        .filter(col("o_orderkey") % 3 === 2)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        s"$path/data/f1_insert")
      commitManifest(s, s"$path/fact", 1, untouched ++ rewrite ++ inserts)
      // ---- dim log ----
      val dim0 = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      def dimLayout(df: DataFrame) = df.repartitionByRange(4,
        col("c_custkey")).sortWithinPartitions("c_custkey")
      commitManifest(s, s"$path/dim", 0,
        writeParts(dimLayout(dim0), s"$path/data/d0"))
      commitManifest(s, s"$path/dim", 1, writeParts(dimLayout(
        dim0.withColumn("seg",
          when(col("c_custkey") % 50 === 0, lit("REASSIGNED"))
            .otherwise(col("seg")))), s"$path/data/d1"))
      // ---- materialized subview (per-custkey fact aggregate at v0) --
      fact0.groupBy("o_custkey")
        .agg(count(lit(1)).as("a_n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("a_rev"))
        .write.mode("overwrite").parquet(s"$path/aux")
      // ---- the maintained view at v0 ----
      s.read.parquet(s"$path/aux")
        .join(dim0, col("o_custkey") === col("c_custkey"))
        .groupBy("seg")
        .agg(sum("a_n").as("n0"),
          sum("a_rev").cast("decimal(28,2)").as("rev0"))
        .write.mode("overwrite").parquet(s"$path/view")
      // ---- the commit-notification FEED (total order over BOTH logs'
      // delta events — the Debezium/DynamoDB-stream shape the
      // streaming twin tails; written sequentially so file mtimes
      // agree with the serialization: dim v1 commits BEFORE fact v1,
      // which is the order the delta-join algebra assumes) ----
      Seq("dim" -> 1, "fact" -> 1).zipWithIndex.foreach {
        case ((log, v), seq) => publish(hfs(s, path),
          new Path(s"$path/feed"), f"ev$seq%05d.txt", Seq(s"$log,$v"))
      }
    }

  /** The join-view delta fold, factored so the spec can run BOTH the
    * correct algebra and the classic double-counting mistake against
    * the same staged logs. Correct (`naive = false`):
    *   ΔV = agg_seg(ΔA ⨝ D_new) + agg_seg(A0 ⨝ ΔD)
    * where ΔA is the per-custkey fold of the fact file diff, D_new is
    * the dim v1 snapshot, A0 the staged subview, ΔD the signed dim
    * row diff — algebraically Δ(F⨝D) = ΔF⨝D_old + F_old⨝ΔD + ΔF⨝ΔD
    * with the first and third terms fused via D_new. The naive version
    * (`naive = true`) joins the fact delta against D_OLD instead —
    * dropping the ΔF⨝ΔD cross term, so any customer whose orders AND
    * segment both changed in the step is counted in neither segment
    * correctly. The fixture guarantees such customers exist (inserts
    * cover custkeys ≡ 0 mod 50), so the naive fold measurably differs.
    */
  private[graft] def joinIvmMaintained(s: SparkSession, d: String,
      naive: Boolean): DataFrame = {
    val p = joinIvmStaged(s, d)
    def factPart(fls: Seq[String], sign: Int): Option[DataFrame] =
      if (fls.isEmpty) None
      else Some(s.read.parquet(fls: _*)
        .groupBy("o_custkey")
        .agg((count(lit(1)) * sign).as("dn"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * sign)
            .as("drev")))
    val (factRemoved, factAdded) = fileDiff(s, s"$p/fact", 0, 1)
    val deltaA = (factPart(factAdded, 1) ++ factPart(factRemoved, -1))
      .reduce(_ unionByName _)
      .groupBy("o_custkey")
      .agg(sum("dn").as("dn"),
        sum("drev").cast("decimal(28,2)").as("drev"))
    val dimAt = (fls: Seq[String]) => s.read.parquet(fls: _*)
    // the fact-delta term joins the dim version the algebra demands
    val dimForDelta = dimAt(resolve(s, s"$p/dim", Some(if (naive) 0 else 1))._2)
    val term1 = deltaA
      .join(dimForDelta, col("o_custkey") === col("c_custkey"))
      .groupBy("seg")
      .agg(sum("dn").as("tn"), sum("drev").cast("decimal(28,2)").as("tr"))
    // signed dim row diff × the staged per-custkey subview: rows a
    // rewritten dim file carried unchanged cancel ± per (custkey, seg)
    val (dimRemoved, dimAdded) = fileDiff(s, s"$p/dim", 0, 1)
    val dimDelta = dimAt(dimAdded).withColumn("sign", lit(1))
      .unionByName(dimAt(dimRemoved).withColumn("sign", lit(-1)))
    val term2 = s.read.parquet(s"$p/aux")
      .join(dimDelta, col("o_custkey") === col("c_custkey"))
      .groupBy("seg")
      .agg(sum(col("a_n") * col("sign")).as("tn"),
        sum(col("a_rev") * col("sign")).cast("decimal(28,2)").as("tr"))
    val deltaV = term1.unionByName(term2)
      .groupBy("seg")
      .agg(sum("tn").as("dn"), sum("tr").cast("decimal(28,2)").as("drev"))
    s.read.parquet(s"$p/view")
      .join(deltaV, Seq("seg"), "full_outer")
      .select(col("seg"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        round((coalesce(col("rev0"), lit(0).cast("decimal(28,2)")) +
          coalesce(col("drev"), lit(0).cast("decimal(28,2)")))
          .cast("double"), 2).as("revenue"))
      .filter(col("n_orders") > 0)
      .orderBy("seg")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Static partition pruning: the o_year predicate must become a
    // PartitionFilter (directory-level skip), not a row filter.
    "scan_partition_pruned" -> ((s, d) =>
      partitionedOrders(s, d)
        .filter(col("o_year") === 1997)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          round(sum("o_totalprice"), 2).as("rev"))
        .orderBy("o_orderpriority")),

    // Dynamic partition pruning: the fact side's partition filter is only
    // known at runtime, from the dim side of the join.
    "join_dpp" -> ((s, d) => {
      val dim = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(year(col("l_shipdate")).as("yr")).distinct()
      partitionedOrders(s, d)
        .join(dim, col("o_year") === col("yr"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }),

    // Runtime bloom-filter pushdown (Catalyst InjectRuntimeFilter): the
    // dim side (selectively filtered orders) builds a bloom filter whose
    // might_contain() probe is injected as a PRE-SHUFFLE filter on the
    // fact scan — at 100 TB this drops ~90% of lineitem rows before they
    // are ever hashed into the exchange, the shuffle-side complement of
    // join_dpp's partition skip (which needs a partitioned layout; the
    // bloom filter works on any layout). Runs in its own newSession():
    // broadcast is disabled so the join actually shuffles (broadcast
    // joins need no runtime filter), and the application-side size
    // threshold is lowered to fire at test scale (a real 100 TB fact
    // side clears the default 10 GB threshold on its own) — session
    // isolation keeps both knobs out of every other query's planner.
    // Plan pinned in PhysicalSpec; result oracled against the plain join.
    "join_runtime_bloom" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0")
      val dim = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 250000)
      t(s, d, "lineitem")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("o_orderstatus")
    }),

    // Bucketed co-located join: both sides bucketed+sorted by the join key
    // → sort-merge join with NO shuffle exchange on either side. At fact ⨝
    // fact scale this is the difference between a full-network shuffle and
    // a local merge.
    "join_bucketed" -> ((s, d) => {
      val (li, ord) = bucketedTables(s, d)
      // pin sort-merge: at toy scale Spark would broadcast instead, which
      // hides the bucket co-location this query demonstrates
      s.table(li).hint("merge")
        .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }),
    // The full bucketed-SORTED payoff: with one file per bucket (see
    // sortedBucketTables) the scan exposes both the hash distribution
    // AND the per-bucket sort order, so the merge join plans with no
    // Exchange and no Sort on either side — at 100 TB that deletes the
    // two most expensive operators a fact-fact join pays. Spark 3+
    // gates the ordering claim behind
    // spark.sql.legacy.bucketedTableScan.outputOrdering (a multi-file
    // bucket has NO global order, so trusting sortBy blindly was a
    // correctness bug — SPARK-28220); our staging guarantees the
    // single-file precondition, so the flag is sound here, and it is
    // set on an ISOLATED newSession (shared catalog, private conf) so
    // no other key's planning sees it. BucketEncodeSpec pins the plan:
    // SortMergeJoin with zero SortExec and zero Exchange below it.
    // join_bucketed (above) keeps the default-conf variant where only
    // the Exchange disappears — the pair shows what the write-time
    // repartition(8, key) plus the flag buy.
    "join_bucketed_sorted" -> ((s, d) => {
      val (li, ord) = sortedBucketTables(s, d)
      val s2 = s.newSession()
      s2.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      s2.table(li).hint("merge")
        .join(s2.table(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(round(sum("l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }),

    // JSONL sink + read-back — the interchange format every downstream
    // tokenizer/labeling vendor still asks for. Write-once (staged gate
    // like the codec sink), read back through schema inference, and the
    // aggregate must reconcile with the parquet source — the roundtrip
    // is the assertion (JSON longs are lossless; doubles would not be,
    // which is why only integer columns ride this sink). Text columns
    // are deliberately excluded: escaping is JSON-safe but the key
    // measures the sink, not a 100 MB re-encode.
    "sink_jsonl_roundtrip" -> ((s, d) => {
      val out = graft.Staging.dir("graft_phys_jsonl", d)
      if (!graft.Staging.isStaged(out))
        t(s, d, "documents").select("doc_id", "lang", "n_chars")
          .write.mode("overwrite").json(out)
      s.read.json(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          countDistinct(col("doc_id")).as("n_distinct_ids"))
        .orderBy("lang")
    }),

    // Bucketing pays for AGGREGATION too, not just joins: the bucketed
    // lineitem table is hash-distributed by l_orderkey on disk, so a
    // groupBy on that key needs NO exchange below the aggregate —
    // Spark recognizes the bucket distribution and plans partial+final
    // aggregation over the scan's existing layout (the only Exchange
    // in this plan is the final presentation ORDER BY; PhysicalSpec
    // pins the orderBy-free twin to zero Exchanges). At 100 TB this is
    // the "pre-shuffle once at write time, aggregate forever for free"
    // trade every warehouse fact table makes.
    "agg_bucketed_noshuffle" -> ((s, d) => {
      val (li, _) = bucketedTables(s, d)
      s.table(li)
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_lines"))
        .filter(col("n_lines") >= 4)
        .orderBy("l_orderkey")
    }),

    // Gzip-compressed text scan: events re-materialized as .csv.gz and
    // read back through the codec. The operational teeth: gzip is NOT
    // splittable — one file = one task regardless of size, so the
    // staging writes 4 gz files (reader parallelism = file count; a
    // 100 TB landing zone sizes its gz files to the task budget or
    // lands zstd/bzip2 where splitting matters). Round-trip equality
    // against the parquet source is the oracle.
    "scan_csv_gzip" -> ((s, d) => {
      val path = graft.Staging.dir("graft_phys_events_csvgz", d)
      if (!graft.Staging.isStaged(path)) {
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .repartition(4)
          .write.mode("overwrite").option("header", "true")
          .option("compression", "gzip").csv(path)
      }
      s.read.option("header", "true")
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .csv(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
        .orderBy("event_type")
    }),

    // Output-codec trade audit: the same slice written as snappy vs
    // zstd parquet, then both re-read and row-verified. Byte sizes are
    // codec/build-specific (NOT part of the oracle contract — the spec
    // asserts the zstd ≤ snappy direction); the oracled output is the
    // per-codec row conservation a sink migration must prove before
    // flipping the default.
    "sink_compression_codecs" -> ((s, d) => {
      val base = graft.Staging.dir("graft_phys_codecs", d)
      val src = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
      Seq("snappy", "zstd").foreach { codec =>
        val p = s"$base/$codec"
        if (!graft.Staging.isStaged(p))
          src.write.mode("overwrite")
            .option("compression", codec).parquet(p)
      }
      Seq("snappy", "zstd").map { codec =>
        s.read.parquet(s"$base/$codec")
          .agg(count(lit(1)).as("n_rows"),
            round(sum("l_quantity"), 2).as("sum_qty"))
          .select(lit(codec).as("codec"), col("n_rows"), col("sum_qty"))
      }.reduce(_ unionByName _).orderBy("codec")
    }),

    // Catalog statistics + cost-based optimizer input: ANALYZE TABLE
    // COMPUTE STATISTICS (table row count/size) FOR COLUMNS (ndv,
    // min/max, null counts) persists stats into the catalog, and with
    // CBO enabled the optimizer plans from THOSE numbers instead of raw
    // file sizes — at 100 TB this is what makes join-order and
    // build-side choices survive selective filters the file size can't
    // see (a 10 TB table filtered to 0.1% still LOOKS like 10 TB to a
    // size-only estimator; column histogram stats price the filter
    // correctly). Runs in its own newSession so the CBO flags stay out
    // of every other query's planner; PhysicalSpec pins rowCount and
    // per-column stats actually present on the analyzed relations.
    "stats_analyze_cbo" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val (ordTbl, custTbl) = statsTables(s, d)
      s.sql(
        s"""SELECT c_mktsegment, count(*) AS n_orders,
           |       round(sum(o_totalprice), 2) AS rev
           |FROM $ordTbl
           |JOIN $custTbl ON o_custkey = c_custkey
           |WHERE o_totalprice > 100000
           |GROUP BY c_mktsegment
           |ORDER BY c_mktsegment""".stripMargin)
    }),

    // Columnar cache reuse: ONE filtered projection persisted
    // (MEMORY_AND_DISK, executor-partitioned columnar batches), TWO
    // independent aggregations consuming it — the scan+filter is paid
    // once, the second consumer plans an InMemoryTableScan over the
    // cached relation (pinned in PhysicalSpec). The 100 TB discipline
    // is in WHAT is cached: the pruned 4-column slice (projection and
    // filter applied BEFORE persist), never the raw table — cache
    // footprint scales with the slice a workload actually shares.
    // Residency is BOUNDED at one slice: repeated calls against the same
    // dataset re-persist an identical plan, which Spark's CacheManager
    // dedupes to the one existing entry; a call against a DIFFERENT
    // dataset dir first unpersists the previous dir's slice (the slot
    // below), so a session sweeping sf0.01 then sf0.1 never holds two.
    // The returned frame must stay LAZY over the cached relation (the
    // spec pins InMemoryTableScan in its plan), so unpersist-on-return
    // is not an option — the slot is the leak bound instead.
    "cache_reuse_scan" -> ((s, d) => {
      val slice = t(s, d, "lineitem")
        .filter(col("l_quantity") > 20)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // atomic swap: whatever pair was resident is returned exactly once,
      // so concurrent calls against different dirs can't strand an
      // untracked persisted slice (a read/clear/set sequence could).
      // Same-dir swaps keep the entry persisted — the new slice is the
      // identical plan, which CacheManager dedupes to the same entry.
      val prev = cacheSlot.getAndSet((d, slice))
      if (prev != null && prev._1 != d) prev._2.unpersist()
      val byFlag = slice.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("total"))
        .select(concat(lit("flag:"), col("l_returnflag")).as("key"),
          col("n_rows"), col("total"))
      val byBucket = slice
        .groupBy(floor(col("l_quantity") / 10).cast("long").as("qb"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("total"))
        .select(concat(lit("qty_bucket:"), col("qb")).as("key"),
          col("n_rows"), col("total"))
      byFlag.unionByName(byBucket).orderBy("key")
    }),

    // Output file-size governance: partitionBy(lang) + maxRecordsPerFile
    // bounds every output file — at 100 TB unbounded files break
    // downstream readers and tiny files melt the namenode; this is the
    // compaction contract. repartition(lang) routes each lang to exactly
    // one task, so every lang writes in parallel with its own file count
    // still deterministic: ceil(rows(lang) / 100). The verification reads
    // the sink back and counts DISTINCT _metadata.file_path per lang — a
    // distributed scan of the real layout that works on any
    // Hadoop-compatible filesystem (no driver-side directory walk).
    "sink_partitioned_capped" -> ((s, d) => {
      val out = graft.Staging.dir("graft_phys_docs_by_lang", d)
      t(s, d, "documents").repartition(col("lang"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", "100")
        .partitionBy("lang")
        .parquet(out)
      s.read.parquet(out)
        .select(col("lang"), col("_metadata.file_path").as("fp"))
        .groupBy("lang")
        .agg(count_distinct(col("fp")).as("n_files"))
        .orderBy("lang")
    }),

    // Small-file compaction: the maintenance pass every long-lived table
    // needs (streaming sinks and incremental loads shatter tables into
    // files the namenode and scan planner choke on). The target file
    // count is derived from the FS listing — total bytes over a 32 MB
    // target size, O(#files) metadata only, no data read — and the
    // rewrite is coalesce(), which merges partitions WITHOUT a shuffle:
    // at 100 TB the compaction pays one read + one write, nothing more.
    // The returned summary re-reads the compacted layout, so the oracle
    // (which runs on the original table) proves the rewrite lost nothing.
    // VACUUM (dry run) over the manifest-committed sink — the retention
    // audit every transaction-log table needs: list the data directory,
    // subtract every file referenced by ANY retained manifest, and
    // report what a destructive vacuum would reclaim. The orphan rows
    // are readable (they're complete parquet files — the crashed writer
    // finished its data, only the commit rename never happened), which
    // is exactly why vacuum needs the manifest set and not an mtime
    // heuristic: age cannot distinguish a slow committed write from an
    // abandoned one. Dry-run (no mutation) so the layout stays
    // idempotent for every other reader; the destructive step would be
    // one fs.delete per reported file.
    "sink_manifest_vacuum" -> ((s, d) => {
      import s.implicits._
      val path = manifestSinkStaged(s, d)
      val commits = listCommits(s, path)
      val orphans = unreferenced(s, path, commits).map(_.getPath.toString)
      val rowsLive = manifestRead(s, path, None).count()
      val rowsOrphaned =
        if (orphans.isEmpty) 0L
        else s.read.parquet(orphans: _*).count()
      Seq((commits.length.toLong, rowsLive, rowsOrphaned))
        .toDF("versions_retained", "rows_live", "rows_orphaned")
    }),

    // Retention VACUUM, destructive and crash-safe: tombstone-commit the
    // deletable set (files unreferenced by the retained versions and not
    // newer than the latest commit), THEN delete — a crash between the
    // two leaves a readable table and a resumable work list (spec-driven
    // in VacuumSpec). Retained readers are provably unaffected: the plan
    // subtracts every retained manifest's file list before condemning
    // anything. The audit columns are recomputed from the post-vacuum
    // layout, so a green row proves both no-live-loss (the aggregate
    // equals the oracle's recompute from orders) and completeness
    // (unreferenced_files_after = 0: the orphan pile is actually gone,
    // which is the storage bill at 100 TB).
    "sink_vacuum_retention" -> ((s, d) => {
      val path = vacuumSinkStaged(s, d)
      vacuumRetention(s, path, retain = 1)
      val leftover = unreferenced(s, path,
        listCommits(s, path).takeRight(1)).size.toLong
      manifestRead(s, path, None)
        .agg(count(lit(1)).as("rows_live"),
          countDistinct("o_orderstatus").as("n_status"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .select(col("rows_live"), col("n_status"), col("revenue"),
          lit(leftover).as("unreferenced_files_after"))
    }),

    // The full GC story in one key: data vacuum (retention-1) THEN log
    // vacuum (keep the newest manifest only). Ordering matters and is
    // the safe order by construction — the data vacuum derives its
    // keep-set from manifests that still exist, so truncating the log
    // first could only make the data vacuum KEEP more, never delete a
    // referenced file. After both, the table is exactly: one manifest,
    // its files, zero unreferenced bytes — the steady state a 100 TB
    // curation table returns to nightly. Version numbering is
    // parse-last+1 (never commits.size), so the next commit after
    // truncation cannot reuse an aged-out version number readers might
    // still hold — VacuumSpec pins post-truncation appends.
    "sink_vacuum_log" -> ((s, d) => {
      val path = vacuumSinkStaged(s, d)
      vacuumRetention(s, path, retain = 1)
      vacuumLog(s, path, keepLast = 1)
      val versions = listCommits(s, path).size.toLong
      manifestRead(s, path, None)
        .agg(count(lit(1)).as("rows_live"),
          countDistinct("o_orderstatus").as("n_status"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .select(col("rows_live"), col("n_status"), col("revenue"),
          lit(versions).as("versions_remaining"))
    }),

    // VACUUM DRY-RUN — the report every destructive GC needs in front
    // of it: per retention level, how many files (and how many rows /
    // how much revenue they carry) become reclaimable, WITHOUT deleting
    // anything. Derivation is the same keep-set algebra the real vacuum
    // commits as its tombstone ([[vacuumPlan]]), run against a
    // dedicated never-vacuumed copy of the fixture so the numbers are
    // deterministic regardless of when the destructive keys ran. Work
    // is O(#files) metadata per level plus one scan of ONLY the doomed
    // files for the row/revenue accounting — at 100 TB the report reads
    // the bytes it proposes to delete, never the live table.
    "sink_vacuum_report" -> ((s, d) => {
      val path = vacuumReportSinkStaged(s, d)
      import s.implicits._
      Seq(1, 2, 3).map { n =>
        val doomed = vacuumPlan(s, path, n)
        val (rows, rev) =
          if (doomed.isEmpty) (0L, 0.0)
          else {
            val r = s.read.parquet(doomed: _*)
              .agg(count(lit(1)), round(sum("o_totalprice"), 2))
              .head()
            (r.getLong(0), r.getDouble(1))
          }
        (n.toLong, doomed.size.toLong, rows, rev)
      }.toDF("retain", "files_reclaimable", "rows_reclaimable",
        "revenue_reclaimable")
        .orderBy("retain")
    }),

    // MULTI-TABLE ATOMIC COMMIT — a fact table and its materialized
    // view resolved through ONE pair record, so a reader can never see
    // new-fact/old-view (the cross-table skew single-table logs
    // permit). The output carries the view's numbers AND a recompute
    // from the fact at the SAME pair-resolved version, side by side:
    // the oracle derives both from orders independently, so a pair log
    // that ever resolved a mixed pair fails the hash on the recompute
    // columns. TxnPairSpec drives the crash window (fact advanced,
    // view not yet, no pair record → readers still get the OLD
    // consistent pair).
    "sink_txn_pair" -> ((s, d) => {
      val mp = mergeSinkStaged(s, d)
      val pp = pairTxnStaged(s, d)
      val (fv, vv) = readPair(s, pp).getOrElse(
        throw new IllegalStateException("no published pair"))
      val view = manifestRead(s, s"$pp/view", Some(vv))
        .select(col("o_orderstatus"), col("n_orders"),
          round(col("rev").cast("double"), 2).as("revenue"))
      val recomputed = manifestRead(s, mp, Some(fv))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_recomputed"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("rev_recomputed"))
      view.join(recomputed, Seq("o_orderstatus"), "full_outer")
        .orderBy("o_orderstatus")
    }),

    // ZERO-COPY CLONE — read the diverged clone and its source side by
    // side: the clone's rows = the source's post-merge snapshot (every
    // shared file read by reference) plus its own appended slice; the
    // source's rows prove the fork is one-directional (the clone's
    // append never leaks back). The oracle recomputes both from
    // orders, so a clone that re-copied stale data, dropped a shared
    // file, or contaminated its source fails on its row. CloneSpec
    // pins the physical claims (shared files are the IDENTICAL paths,
    // the clone dir holds only its own append).
    "sink_clone_zero_copy" -> ((s, d) => {
      val src = mergeSinkStaged(s, d)
      val cl = cloneSinkStaged(s, d)
      val clone = manifestRead(s, cl, None)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_clone"),
          round(sum("o_totalprice"), 2).as("rev_clone"))
      val source = manifestRead(s, src, None)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_src"),
          round(sum("o_totalprice"), 2).as("rev_src"))
      clone.join(source, Seq("o_orderstatus"), "left")
        .select(col("o_orderstatus"), col("n_clone"), col("rev_clone"),
          coalesce(col("n_src"), lit(0L)).as("n_src"),
          coalesce(col("rev_src"), lit(0.0)).as("rev_src"))
        .orderBy("o_orderstatus")
    }),

    // CDC APPLY — the consumer that makes a change feed a product: a
    // downstream REPLICA (physical copy of the v0 snapshot) is brought
    // to v1 by applying the feed's row-level changes, never by recopying
    // the table. Apply algebra: replica minus feed keys, union feed
    // post-images (op != delete) — one keyed anti-join plus a union, so
    // the work is O(changed rows) while a naive re-sync is O(table):
    // at 100 TB a merge that touched 2 of 10k files ships exactly those
    // rows. The applied replica is PUBLISHED (written, then read back
    // for the audit), and the oracle recomputes the post-merge table
    // from orders — a feed that missed an update, double-applied an
    // insert, or leaked a pre-image fails the row/hash compare. Replays
    // are idempotent by the same algebra (minus-keys-then-union), pinned
    // in VacuumSpec.
    "sink_changefeed_apply" -> ((s, d) => {
      val feed = mergeFeed(s, d)
        .localCheckpoint(true) // keys consumed by anti-join AND union
      val replica0 = s.read.parquet(cdcReplicaStaged(s, d))
      val applied = replica0
        .join(feed.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(feed.filter(col("op") =!= "delete")
          .select(col("o_orderkey"), col("st1").as("o_orderstatus"),
            col("tp1").as("o_totalprice")))
      val out = graft.Staging.dir("graft_cdc_replica_v1", d)
      applied.write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // INCREMENTAL VIEW MAINTENANCE from the transaction log: a
    // materialized per-group aggregate (staged at v0) is advanced to v1
    // by aggregating only the log's FILE-LEVEL diff — replaced files'
    // rows enter negatively, new files' rows positively, and the two
    // partial aggregates fold into the stored view with one tiny
    // full-outer join on the group key. No per-row key join, no rescan
    // of carried-by-reference files: the cost is O(changed files) +
    // O(|view|), so at 100 TB a merge that rewrote 2 of 10k files
    // refreshes the dashboard by reading 2 files, where a recompute
    // scans the table. Rows a rewritten file carried UNCHANGED cancel
    // exactly (−1 then +1 in the same group — this is why the diff can
    // stay at file granularity). Sums are DECIMAL end-to-end, so the
    // maintained total equals the recompute exactly regardless of
    // delta-application order; the oracle recomputes the post-merge
    // aggregate straight from orders, so a view that missed a delta,
    // double-applied one, or drifted in the cents fails the hash.
    "sink_changefeed_ivm" -> ((s, d) => {
      val view0 = s.read.parquet(ivmViewStaged(s, d))
      val (removed, added) = fileDiff(s, mergeSinkStaged(s, d), 0, 1)
      def part(files: Seq[String], sign: Int) =
        s.read.parquet(files: _*)
          .groupBy("o_orderstatus")
          .agg((count(lit(1)) * sign).as("dn"),
            (sum(col("o_totalprice").cast("decimal(18,2)")) * sign)
              .as("drev"))
      val delta = part(removed, -1)
        .unionByName(part(added, 1))
        .groupBy("o_orderstatus")
        .agg(sum("dn").as("dn"), sum("drev").as("drev"))
      view0.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_orders"),
          round((coalesce(col("rev0").cast("decimal(28,2)"),
            lit(0).cast("decimal(28,2)")) +
            coalesce(col("drev").cast("decimal(28,2)"),
              lit(0).cast("decimal(28,2)"))).cast("double"), 2)
            .as("revenue"))
        .filter(col("n_orders") > 0)
        .orderBy("o_orderstatus")
    }),

    // LOG CHECKPOINT — reading a DELTA-manifest log through the
    // Delta-Lake `_last_checkpoint` pattern: one pointer read, one
    // checkpoint read, exactly (v − ck) delta manifests replayed — the
    // log read stays O(commits since checkpoint) however long history
    // grows, without sink_vacuum_log's truncation (time travel to any
    // version still works through older checkpoints). The fixture's
    // history includes a compaction (file REMOVALS mid-log), so the
    // replay algebra is exercised, not just appends. ck_version /
    // deltas_replayed are deterministic fixture constants surfaced so
    // the oracle pins the read PATH, not just the data.
    "sink_log_checkpoint" -> ((s, d) => {
      val p = checkpointSinkStaged(s, d)
      val (files, ck, opened) = checkpointResolve(s, p, None)
      s.read.parquet(files: _*)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("revenue"))
        .withColumn("ck_version", lit(ck.toLong))
        .withColumn("deltas_replayed", lit(opened.toLong))
        .orderBy("o_orderstatus")
    }),

    // IVM OVER A JOIN VIEW — the classic hard case (a single-table IVM
    // can only get sums wrong; a join IVM can double-count): a
    // per-segment aggregate over fact(orders)⨝dim(customer) advanced
    // from v0 to v1 while BOTH sides changed — fact rewrote a key band
    // (+100.00) and inserted new orders, dim reassigned every 50th
    // customer's segment. Maintenance is delta-join algebra with a
    // materialized per-custkey subview: ΔV = ΔA⨝D_new + A0⨝ΔD, which
    // fuses the ΔF⨝ΔD cross term into the first join — the exact term
    // a naive ΔF⨝D_old fold drops (IvmJoinSpec runs the mistake and
    // shows it differs). Cost is O(changed fact files) + O(|Δdim|⨝aux)
    // + O(|view|); the fact is never rescanned. The oracle recomputes
    // the v1 join aggregate straight from orders⨝customer, so a fold
    // that missed the cross term, double-applied a delta, or drifted
    // in the cents fails the hash.
    "sink_changefeed_ivm_join" -> ((s, d) =>
      joinIvmMaintained(s, d, naive = false)),

    // LAKEHOUSE CENSUS — the txn family's end-to-end composite: six
    // transaction mechanisms (copy-on-write merge, partition overwrite,
    // compaction, merge-on-read deletion vectors, ref-gated WAP,
    // partition evolution) each resolve their CURRENT snapshot through
    // their own read path, and the census folds each into (rows_live,
    // revenue). The oracle recomputes all six live sets independently
    // from orders, so one drifted mechanism fails exactly its row. Three
    // of the six (merge, wap, partevo) must converge on the identical
    // full table through entirely different file algebras — agreement
    // there is the census's strongest invariant. Versions/file counts
    // are deliberately NOT reported: vacuum keys legally mutate log
    // length, and the census must not depend on key execution order.
    "pipeline_lakehouse_census" -> ((s, d) => {
      def snap(feature: String, df: DataFrame) =
        df.agg(count(lit(1)).as("rows_live"),
          round(sum("o_totalprice"), 2).as("revenue"))
          .select(lit(feature).as("feature"), col("rows_live"),
            col("revenue"))
      snap("compact_txn", manifestRead(s, compactTxnStaged(s, d), None))
        .unionByName(snap("delete_vectors",
          manifestRead(s, dvSinkStaged(s, d), None)))
        .unionByName(snap("merge_upsert",
          manifestRead(s, mergeSinkStaged(s, d), None)))
        .unionByName(snap("overwrite_txn",
          manifestRead(s, txnOverwriteStaged(s, d), None)))
        .unionByName(snap("partition_evolution",
          partEvoRead(s, partEvoStaged(s, d), None)._1))
        .unionByName(snap("wap_publish", {
          val p = wapSinkStaged(s, d)
          manifestRead(s, p, Some(readRef(s, p, "main")
            .getOrElse(sys.error("main ref never published"))))
        }))
        .orderBy("feature")
    }),

    // PARTITION EVOLUTION read path: a status predicate against the
    // mixed-layout table — evolved (hive-partitioned) files are pruned
    // by manifest metadata (2 of 3 never opened), pre-evolution files
    // are all scanned with the predicate pushed into the scan, and the
    // union must equal a recompute from orders. files_scanned /
    // files_pruned are part of the output because the METADATA-ONLY
    // prune is the thing a spec change buys: a reader that pruned old
    // files too would lose rows (they carry no partition info), one
    // that pruned nothing pays the full scan forever.
    "sink_partition_evolution" -> ((s, d) => {
      val path = partEvoStaged(s, d)
      val (df, scanned, pruned) = partEvoRead(s, path, Some("F"))
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .select(col("o_orderstatus"), col("n_orders"), col("revenue"),
          lit(scanned.toLong).as("files_scanned"),
          lit(pruned.toLong).as("files_pruned"))
        .orderBy("o_orderstatus")
    }),

    // WRITE-AUDIT-PUBLISH: production reads resolve through the `main`
    // ref, which only ever advances when the committed candidate passes
    // the audit gate (null-key completeness + row non-regression against
    // the published snapshot). The staged log holds v0 (published), v1
    // (good batch — audited, published) and v2 (null-keyed batch — the
    // audit REJECTED it, so main still serves v1 and the bad commit sits
    // quarantined in the log). The oracle recomputes v1's content from
    // orders: a ref that advanced past the failed audit, or a read that
    // resolved the log head instead of the ref, double-counts the bad
    // batch and fails the hash.
    "sink_wap_publish" -> ((s, d) => {
      val path = wapSinkStaged(s, d)
      val v = readRef(s, path, "main")
        .getOrElse(sys.error("main ref never published"))
      manifestRead(s, path, Some(v))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .select(col("o_orderstatus"), col("n_orders"), col("revenue"),
          lit(v.toLong).as("version_published"),
          lit((listCommits(s, path).size - 1 - v).toLong)
            .as("commits_quarantined"))
        .orderBy("o_orderstatus")
    }),

    // Merge-on-read DELETE via deletion vectors: the v1 snapshot is the
    // v0 data files (carried by reference — the delete wrote kilobytes
    // of positions, not rewritten gigabytes) minus the DV sidecar's
    // (file_path, row_index) set, masked by one broadcast anti-join.
    // The oracle recomputes the live set from orders with the same
    // predicate, so a DV that missed a position, masked a survivor, or
    // drifted a row_index fails the row/hash compare.
    "sink_delete_vectors" -> ((s, d) => {
      val path = dvSinkStaged(s, d)
      manifestRead(s, path, Some(1))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // DV compaction: v2 materializes the masked view into fresh files
    // and drops the sidecar — the copy-on-write end state of the same
    // delete. Reading v2 must equal reading v1-through-the-DV row for
    // row (same oracle), and the spec pins that v2's manifest carries no
    // dv line while v1's data file set is exactly v0's.
    "sink_dv_compact" -> ((s, d) => {
      val path = dvSinkStaged(s, d)
      manifestRead(s, path, None)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Manifest data skipping: the key-range predicate prunes FILES from
    // the 8-row stats manifest (a bounded collect — one row per file,
    // never per row group), and only the overlapping files are opened;
    // the residual filter still pushes into those scans. The oracle
    // recomputes from raw orders with the same derived bounds, so a
    // green row proves the pruned file set covers the predicate exactly
    // — a manifest that dropped a needed file fails the row compare.
    "sink_manifest_skipping" -> ((s, d) => {
      val path = statsManifestStaged(s, d)
      val bounds = t(s, d, "orders")
        .agg(floor(max("o_orderkey") * 0.37).cast("long").as("lo"),
          floor(max("o_orderkey") * 0.55).cast("long").as("hi"))
        .collect()(0)
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val files = s.read.parquet(s"$path/stats")
        .filter(col("max_key") >= lo && col("min_key") <= hi)
        .select("file").collect().map(_.getString(0)).sorted
      s.read.parquet(files.toSeq: _*)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("rev"))
        .orderBy("o_orderstatus")
    }),

    // The transactional partition-overwrite read path: latest snapshot =
    // partitions O and P as written at v0 plus partition F as REWRITTEN
    // by the v1 retention commit. The oracle recomputes the same view
    // straight from orders (status <> 'F' OR totalprice > 150000), so a
    // green row proves the log-resolved scan covers exactly the
    // post-overwrite file set — a reader that globbed the data dir would
    // double-count F and see the crashed v2 slice.
    "sink_overwrite_txn" -> ((s, d) => {
      val path = txnOverwriteStaged(s, d)
      manifestRead(s, path, None)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Time travel across the overwrite: version 0 still serves the FULL
    // pre-overwrite table (its manifest never mutated — snapshot
    // isolation is structural), version 1 serves the post-overwrite
    // view; both resolve from the same log in one output. The replaced
    // partition-F files are referenced by v0 and orphaned from v1+ —
    // exactly the retention window a vacuum honors.
    "sink_overwrite_timetravel" -> ((s, d) => {
      val path = txnOverwriteStaged(s, d)
      def snap(v: Int) = manifestRead(s, path, Some(v))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .withColumn("version", lit(v))
      snap(0).unionByName(snap(1))
        .select("version", "o_orderstatus", "n_orders", "revenue")
        .orderBy("version", "o_orderstatus")
    }),

    // MERGE read path: latest snapshot = untouched v0 files (by
    // reference) + the rewritten matched files (status 'U' inside the
    // derived key band) + the inserted %3=2 slice. The oracle recomputes
    // the same view straight from orders, so a green row proves the
    // copy-on-write file algebra lost nothing: a plan that dropped an
    // untouched file, double-carried a rewritten one, or saw the
    // crashed second merge all fail the row/hash compare.
    "sink_merge_upsert" -> ((s, d) => {
      val path = mergeSinkStaged(s, d)
      manifestRead(s, path, None)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Compaction read path: the latest (compacted) snapshot must equal
    // the pre-compaction table row-for-row — the oracle recomputes from
    // orders (%3 in (0,1)), so a compaction that dropped or duplicated
    // rows fails the compare; the ≤3-file layout and intact v1
    // time-travel point are pinned in TxnOverwriteSpec.
    "sink_compact_txn" -> ((s, d) => {
      val path = compactTxnStaged(s, d)
      manifestRead(s, path, None)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // CDC change feed FROM THE LOG: the v0→v1 diff of the merge
    // transaction, derived by diffing the two manifests' FILE LISTS
    // first — files carried by reference are identical by construction
    // and are never read, so the feed's cost is O(changed files), not
    // O(table): at 100 TB a merge that touched 2 of 10k files reads 2
    // files plus the inserts, and the key-keyed diff join shuffles only
    // those rows. Rows inside a rewritten file that the merge did NOT
    // match surface on both sides unchanged and are dropped by the op
    // classifier. The oracle recomputes insert/update counts straight
    // from orders.
    "sink_changefeed" -> ((s, d) =>
      mergeFeed(s, d)
        .groupBy("op")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("tp1"), 2).as("revenue"))
        .orderBy("op")),

    // Schema-evolution read path: the merged-schema scan surfaces the
    // column added at v1 as NULL for every v0 row — old files are never
    // rewritten. The oracle recomputes n_priced/revenue from orders with
    // the same %3 split, so a green row proves the merge neither
    // dropped the new column from old files' rows nor leaked non-NULL
    // values into them.
    "sink_schema_evolution_txn" -> ((s, d) => {
      val (_, files, _) = resolve(s, schemaEvoStaged(s, d))
      // mergeSchema: the reader's side of add-column evolution — the
      // footer union is per-file metadata work, no data rewrite
      s.read.option("mergeSchema", "true").parquet(files: _*)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").isNotNull.cast("long")).as("n_priced"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Concurrent-append read path: the latest snapshot carries all three
    // writers' slices exactly once — the CAS committer's rebase means a
    // lost race never drops the winner's files (the clobber a
    // last-write-wins manifest would silently commit). The oracle is
    // the full orders aggregate; the racing interleavings are
    // spec-driven.
    "sink_concurrent_appends" -> ((s, d) => {
      val path = concurrentAppendStaged(s, d)
      manifestRead(s, path, None)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Read-back of the manifest-committed sink at its latest version:
    // the scan covers exactly the v0+v1 committed files; the crashed
    // writer's orphan slice (o_orderkey % 3 = 2) sits in the same data
    // dir and MUST be invisible — the oracle recomputes from orders with
    // the % 3 IN (0, 1) predicate, so a reader that globbed the dir
    // instead of resolving the manifest fails the row/hash compare.
    "sink_manifest_commit" -> ((s, d) => {
      val path = manifestSinkStaged(s, d)
      manifestRead(s, path, None)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Schema contract gate: the observed schema of every corpus table,
    // normalized to engine-neutral type names, AS DATA — and the DuckDB
    // twin is a hardcoded VALUES list, so a green oracle row literally
    // means "the corpus still matches the contract" (the drift the
    // TESTDATA.md history shows is real: events.ts has changed physical
    // encoding across generations). Driver work is schema METADATA only
    // (51 rows) — no data is read at all.
    "quality_schema_contract" -> ((s, d) => {
      import s.implicits._
      def norm(dt: org.apache.spark.sql.types.DataType): String = {
        import org.apache.spark.sql.types._
        dt match {
          case LongType => "bigint"
          case IntegerType => "int"
          case DoubleType => "double"
          case FloatType => "float"
          case StringType => "varchar"
          case _: TimestampType | TimestampNTZType => "timestamp"
          case ArrayType(e, _) => norm(e) + "[]"
          case other => other.simpleString
        }
      }
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .flatMap { tn =>
          t(s, d, tn).schema.fields.zipWithIndex.map { case (f, i) =>
            (tn, i + 1, f.name, norm(f.dataType))
          }
        }
        .toDF("table_name", "ordinal", "column_name", "data_type")
        .orderBy("table_name", "ordinal")
    }),

    // CSV escaping round-trip — the sink-fidelity check every export
    // pipeline needs once real text flows through it: payloads carrying
    // embedded quotes, commas, and NEWLINES are written to CSV and read
    // back (multiLine + escape), and the fold over the re-read result
    // must equal the fold computed straight from the source. A green
    // oracle row therefore proves the quoting survived the round trip
    // byte-for-byte — the oracle recomputes the expected fold from
    // documents, never touching the files. Write fans out with the
    // source partitioning; the multiLine read is per-file (quoted
    // newlines forbid line splitting — the documented cost of this
    // layout, same class as the gzip key).
    "sink_csv_escaping_roundtrip" -> ((s, d) => {
      val path = graft.Staging.dir("graft_csv_escape", d)
      val payload = concat(lit("q\"c,n\nl:"),
        substring(col("text"), 1, 20))
      t(s, d, "documents")
        .select(col("doc_id"), payload.as("payload"), col("lang"))
        .write.mode("overwrite").option("header", "true")
        // the writer TRIMS value whitespace by default — a silent
        // mutation this key exists to catch; fidelity needs it off
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("escape", "\"").csv(path)
      s.read.option("header", "true").option("multiLine", "true")
        .option("escape", "\"").csv(path)
        .select(col("doc_id").cast("long").as("doc_id"), col("payload"),
          col("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum(length(col("payload"))).as("sum_payload_chars"),
          countDistinct(col("payload")).as("n_distinct_payloads"))
        .orderBy("lang")
    }),

    "sink_compact_smallfiles" -> ((s, d) => {
      val src = fragmentedDocs(s, d)
      val out = graft.Staging.dir("graft_phys_docs_compacted", d)
      val p = new org.apache.hadoop.fs.Path(src)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(p).getLength
      val target = math.max(1L, (bytes + (32L << 20) - 1) / (32L << 20)).toInt
      s.read.parquet(src).coalesce(target)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    }),

    // Range-partitioned sink — the sort-order layout that makes
    // min/max file pruning WORK: repartitionByRange + in-partition sort
    // writes files whose key ranges are pairwise disjoint, so a range
    // predicate later touches only the files whose footer [min,max]
    // intersects it (the same property sort_zorder buys for two
    // columns, here for the primary sort key). The result audits the
    // ACTUAL written layout via the _metadata file column: per-file
    // min/max/count, pairwise overlap count (must be 0), file count and
    // row conservation — the oracle pins the invariants' ground truth.
    // One range exchange + one write + one footer-sized audit read.
    "sink_range_partitioned" -> ((s, d) => {
      val out = graft.Staging.dir("graft_range_sink", d)
      t(s, d, "orders")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(out)
      val files = s.read.parquet(out)
        .select(col("o_orderkey"), col("_metadata.file_path").as("fp"))
        .groupBy("fp")
        .agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"),
          count(lit(1)).as("n"))
      val overlaps = files.as("a").join(files.as("b"),
          col("a.fp") < col("b.fp") &&
            col("a.mn") <= col("b.mx") && col("b.mn") <= col("a.mx"),
          "left")
        .agg(count(col("b.fp")).as("overlapping_pairs"))
      files.agg(count(lit(1)).as("n_files"), sum("n").as("total_rows"))
        .crossJoin(overlaps)
        .select(col("n_files"), col("total_rows"),
          col("overlapping_pairs"))
    }),

    // Shard finalization with manifest — the LAST step of a curation
    // run: the corpus lands in S deterministic shards (partitioned
    // write), and the manifest a trainer consumes is derived by
    // RE-READING the written shards, so every manifest row proves its
    // shard's files are complete and readable. Counts + char totals +
    // order-free content checksums (min/max md5) per shard; the oracle
    // recomputes the same manifest from the ORIGINAL table, so a green
    // row means the shard write lost and corrupted nothing. Shard id is
    // doc_id % 8 here (oracle-reproducible); a production run would use
    // pmod(xxhash64(key), S) — identical plan shape. One repartition by
    // shard (S reducers, one file each), one write, one shard-pruned
    // re-read: the whole finalize is two passes at any corpus size.
    "shard_manifest_write" -> ((s, d) => {
      val out = graft.Staging.dir("graft_shard_manifest", d)
      t(s, d, "documents")
        .withColumn("shard", (col("doc_id") % 8).cast("int"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      s.read.parquet(out)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min(md5(col("text"))).as("min_md5"),
          max(md5(col("text"))).as("max_md5"))
        .select(col("shard").cast("long").as("shard"), col("n_docs"),
          col("sum_chars"), col("min_md5"), col("max_md5"))
        .orderBy("shard")
    }),

    // Skew-mitigation salting: the fact side appends a deterministic salt
    // from a secondary column, the dim side explodes into all S salt
    // replicas, and the join key becomes (key, salt) — a skewed hot key is
    // thereby spread over S reducers instead of melting one. The result is
    // identical to the unsalted join, so it oracle-checks against plain
    // SQL. (On uniform test data this only demonstrates the mechanism; AQE
    // skew-join splitting stays enabled as the runtime safety net.)
    "join_salted_skew" -> ((s, d) => {
      val salts = 8
      val fact = t(s, d, "lineitem")
        .withColumn("salt", pmod(hash(col("l_linenumber")), lit(salts)))
      val dim = t(s, d, "orders")
        .withColumn("salt",
          explode(sequence(lit(0), lit(salts - 1))))
      fact.join(dim,
        col("l_orderkey") === col("o_orderkey") && fact("salt") === dim("salt"))
        .groupBy("o_orderstatus")
        .agg(round(sum("l_extendedprice"), 2).as("rev"), count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }),

    // AQE skew-join splitting — the RUNTIME complement of
    // join_salted_skew's compile-time salting: a deterministic hot key
    // routes ~75% of customers to one reducer, and AQE's
    // OptimizeSkewedJoin splits that oversized shuffle partition into
    // several tasks AFTER seeing the real map-output sizes (no code
    // change, no salt column, dim side untouched). Thresholds are
    // lowered in an isolated newSession so the toy-scale partition
    // qualifies as skewed — at 100 TB the defaults (256 MB / 5× median)
    // fire on their own. The split must not change the answer (oracle
    // vs the plain join) and the plan must show the skew handling
    // (PhysicalSpec pins `isSkew=true`).
    "join_skew_aqe" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512b")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512b")
      // many MAP tasks, not one: AQE splits a skewed reduce partition
      // along mapper boundaries, so a single-file scan (1 mapper) gives
      // the rule nothing to cut — the same reason a real cluster always
      // has enough mappers, made explicit at toy scale
      val fact = t(s, d, "customer")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("skew_key",
          when(col("c_custkey") % 4 =!= 0, lit(0L))
            .otherwise(col("c_nationkey")))
      fact.join(t(s, d, "nation"),
          col("skew_key") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          round(sum("c_acctbal"), 2).as("sum_bal"))
        .orderBy("n_name")
    }),

    // Z-order clustering: a 2-D box predicate over the Morton-clustered
    // events layout. In a user_id-sorted layout a value-only predicate
    // reads every file; on the Z-curve each file holds a rectangle of
    // (user, value) space, so min/max stats skip most files for
    // predicates on EITHER dimension (PhysicalSpec measures the
    // file-touch counts of both layouts). Oracle runs on the plain
    // events table — clustering must not change any answer.
    "sort_zorder" -> ((s, d) =>
      s.read.parquet(zorderEvents(s, d))
        .filter(col("user_id").between(40, 80) &&
          col("value").between(100.0, 200.0))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))),

    // Schema evolution across daily drops: day-1 files carry
    // (o_orderkey, o_totalprice), day-2 files carry (o_orderkey,
    // o_orderstatus) — the append-only corpus reality where producers
    // add/drop columns over time. mergeSchema unions the footers at scan
    // planning (no data rewrite — the 100 TB answer to "a column was
    // added": old files simply read the new column as null). The summary
    // aggregates over the merged view; its oracle recomputes the same
    // numbers from the membership rule, proving the merged read loses
    // and invents nothing.
    "scan_schema_evolution" -> ((s, d) => {
      val p1 = graft.Staging.dir("graft_phys_evolve_day1", d)
      val p2 = graft.Staging.dir("graft_phys_evolve_day2", d)
      // stamped with the SOURCE fingerprint (Staging's refresh contract):
      // a regenerated orders table must re-stage, not serve stale drops
      val stamp = graft.Staging.fingerprint(s, s"$d/orders.parquet")
      if (!graft.Staging.isCurrent(p1, stamp) ||
        !graft.Staging.isCurrent(p2, stamp)) {
        val ord = t(s, d, "orders")
        ord.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(p1)
        ord.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_orderstatus")
          .write.mode("overwrite").parquet(p2)
        graft.Staging.commitStamp(p1, stamp)
        graft.Staging.commitStamp(p2, stamp)
      }
      s.read.option("mergeSchema", "true").parquet(p1, p2)
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_totalprice")).as("n_with_price"),
          count(col("o_orderstatus")).as("n_with_status"),
          round(sum("o_totalprice"), 2).as("sum_price"))
    }),

    // Dynamic partition overwrite — the idempotent incremental-ETL write:
    // re-running a day's load replaces ONLY the partitions that day
    // touches (here the 1-URGENT slice gets a revised load), while static
    // overwrite mode would wipe the whole table first. The read-back
    // summary proves the revised partition changed and every other
    // partition survived byte-identical row counts. At 100 TB this is
    // the difference between rewriting one day and rewriting the lake.
    "sink_partition_overwrite" -> ((s, d) => {
      val p = graft.Staging.dir("graft_phys_dynoverwrite", d)
      // gate on the SOURCE fingerprint, committed AFTER the revised
      // overwrite: a crash between the two writes re-stages instead of
      // serving the unrevised table (the base write alone already leaves
      // a root _SUCCESS), and a regenerated orders table re-stages
      // instead of serving stale data (Staging's refresh contract)
      val stamp = graft.Staging.fingerprint(s, s"$d/orders.parquet")
      if (!graft.Staging.isCurrent(p, stamp)) {
        val ord = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
        ord.withColumn("revised", lit(0))
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(p)
        val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try ord.filter(col("o_orderpriority") === "1-URGENT")
          .withColumn("revised", lit(1))
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(p)
        finally prev match {
          case Some(v) =>
            s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None =>
            s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        graft.Staging.commitStamp(p, stamp)
      }
      s.read.parquet(p)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), max("revised").as("revised"),
          round(sum("o_totalprice"), 2).as("rev"))
        .orderBy("o_orderpriority")
    }),

    // ORC as a first-class columnar format (the reference ingests orc
    // alongside parquet): read the ORC staging of orders and aggregate —
    // predicate pushdown and column pruning work exactly as for parquet
    // (PhysicalSpec asserts PushedFilters on the OrcScan). Oracle runs on
    // the parquet twin: same rows, so format fidelity is what's checked.
    "scan_orc" -> ((s, d) =>
      orcOrders(s, d)
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          round(sum("o_totalprice"), 2).as("rev"))
        .orderBy("o_orderpriority")),

    // Point lookup through the bloom-filtered layout (bloomOrders): a
    // needle equality on a high-cardinality key, where row-group
    // min/max stats alone can't skip anything but the column bloom
    // can. The RESULT is format-independent (the oracle runs the same
    // filter on the raw parquet twin); the layout is what's under
    // test, and PhysicalSpec pins that the footer carries bloom
    // offsets for o_custkey and that the predicate reaches the scan.
    "scan_parquet_bloom" -> ((s, d) =>
      bloomOrders(s, d)
        .filter(col("o_custkey") === 73L)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
        .orderBy("o_orderkey")),

    // DataFrame-native job metrics via observe() (the A10 accumulator
    // pattern's modern twin, flagged in SURVEY §2.A10's notes): the
    // Observation attaches named aggregates to a point IN the plan and
    // collects them during the SAME action that does the work — zero
    // extra pass, zero extra scan, executor-merged exactly like any
    // partial aggregate. Contrast accumulators (task-retry
    // double-counting hazards) and a separate metrics query (second
    // scan of a 100 TB input). The noop sink is the work action here;
    // a production job observes on its real write.
    "metrics_observe" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      t(s, d, "lineitem")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(when(col("l_returnflag") === "R", 1)).as("n_returns"),
          // observe() forbids DISTINCT aggregates (must stay mergeable
          // per-batch); a distinct audit belongs in a real aggregation
          round(avg(col("l_discount")), 4).as("avg_disc"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq(
        ("avg_disc", m("avg_disc").asInstanceOf[Double]),
        ("n_returns", m("n_returns").asInstanceOf[Long].toDouble),
        ("n_rows", m("n_rows").asInstanceOf[Long].toDouble),
        ("sum_qty", m("sum_qty").asInstanceOf[Double]))
        .toDF("metric", "value").orderBy("metric")
    }),

    // The hidden _metadata file column: every row can name the physical
    // file it came from (file_name/file_path/file_size/...) — the
    // provenance primitive under per-file audits, bad-file quarantine
    // and manifest reconciliation. Events are staged one file per
    // event_type (hash-repartitioned by the partition column before a
    // partitionBy write → each dir gets exactly one file), then the
    // read groups physical rows by their source file: n_files == 1 per
    // type is the layout invariant the oracle re-derives from the
    // membership rule. _metadata is populated by the scan itself —
    // constant-folded per split, no join against a listing.
    "scan_file_metadata" -> ((s, d) => {
      val p = graft.Staging.dir("graft_phys_filemeta", d)
      val stamp = graft.Staging.fingerprint(s, s"$d/events.parquet")
      if (!graft.Staging.isCurrent(p, stamp)) {
        Tables.events(s, d)
          .repartition(col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(p)
        graft.Staging.commitStamp(p, stamp)
      }
      s.read.parquet(p)
        .select(col("event_type"), col("_metadata.file_name").as("fn"))
        .groupBy("event_type")
        .agg(countDistinct(col("fn")).as("n_files"),
          count(lit(1)).as("n_rows"))
        .orderBy("event_type")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "agg_bucketed_noshuffle" ->
      """SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey
        |HAVING count(*) >= 4 ORDER BY l_orderkey""".stripMargin,
    // observed metrics recomputed as plain aggregates; value unified to
    // DOUBLE because the observe() map mixes count longs and a sum
    "metrics_observe" ->
      """SELECT 'avg_disc' AS metric,
        |       round(avg(l_discount), 4) AS value
        |FROM lineitem
        |UNION ALL
        |SELECT 'n_returns',
        |       CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END)
        |            AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'n_rows', CAST(count(*) AS DOUBLE) FROM lineitem
        |UNION ALL
        |SELECT 'sum_qty', round(sum(l_quantity), 2) FROM lineitem
        |ORDER BY metric""".stripMargin,
    // n_files = 1 per type IS the staged layout invariant (one file per
    // partition dir); row counts re-derived from the base table
    "scan_file_metadata" ->
      """SELECT event_type, CAST(1 AS BIGINT) AS n_files,
        |       count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "scan_schema_evolution" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_with_price,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_with_status,
        |       round(sum(CASE WHEN o_orderkey % 2 = 0
        |                      THEN o_totalprice END), 2) AS sum_price
        |FROM orders""".stripMargin,
    "sink_partition_overwrite" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |       CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |                 THEN 1 ELSE 0 END AS INT) AS revised,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the contract IS the oracle: a hardcoded VALUES list of the
    // expected (table, ordinal, column, engine-neutral type)
    "quality_schema_contract" ->
      """SELECT * FROM (VALUES
        |  ('customer', 1, 'c_custkey', 'bigint'),
        |  ('customer', 2, 'c_name', 'varchar'),
        |  ('customer', 3, 'c_nationkey', 'int'),
        |  ('customer', 4, 'c_acctbal', 'double'),
        |  ('customer', 5, 'c_mktsegment', 'varchar'),
        |  ('documents', 1, 'doc_id', 'bigint'),
        |  ('documents', 2, 'text', 'varchar'),
        |  ('documents', 3, 'lang', 'varchar'),
        |  ('documents', 4, 'source', 'varchar'),
        |  ('documents', 5, 'n_chars', 'bigint'),
        |  ('embeddings', 1, 'vec_id', 'bigint'),
        |  ('embeddings', 2, 'embedding', 'float[]'),
        |  ('embeddings', 3, 'label', 'int'),
        |  ('events', 1, 'event_id', 'bigint'),
        |  ('events', 2, 'ts', 'timestamp'),
        |  ('events', 3, 'user_id', 'bigint'),
        |  ('events', 4, 'event_type', 'varchar'),
        |  ('events', 5, 'value', 'double'),
        |  ('events', 6, 'props', 'varchar'),
        |  ('lineitem', 1, 'l_orderkey', 'bigint'),
        |  ('lineitem', 2, 'l_partkey', 'bigint'),
        |  ('lineitem', 3, 'l_suppkey', 'bigint'),
        |  ('lineitem', 4, 'l_linenumber', 'int'),
        |  ('lineitem', 5, 'l_quantity', 'double'),
        |  ('lineitem', 6, 'l_extendedprice', 'double'),
        |  ('lineitem', 7, 'l_discount', 'double'),
        |  ('lineitem', 8, 'l_tax', 'double'),
        |  ('lineitem', 9, 'l_returnflag', 'varchar'),
        |  ('lineitem', 10, 'l_linestatus', 'varchar'),
        |  ('lineitem', 11, 'l_shipdate', 'timestamp'),
        |  ('nation', 1, 'n_nationkey', 'int'),
        |  ('nation', 2, 'n_name', 'varchar'),
        |  ('nation', 3, 'n_regionkey', 'int'),
        |  ('orders', 1, 'o_orderkey', 'bigint'),
        |  ('orders', 2, 'o_custkey', 'bigint'),
        |  ('orders', 3, 'o_orderstatus', 'varchar'),
        |  ('orders', 4, 'o_totalprice', 'double'),
        |  ('orders', 5, 'o_orderdate', 'timestamp'),
        |  ('orders', 6, 'o_orderpriority', 'varchar'),
        |  ('part', 1, 'p_partkey', 'bigint'),
        |  ('part', 2, 'p_name', 'varchar'),
        |  ('part', 3, 'p_brand', 'varchar'),
        |  ('part', 4, 'p_type', 'varchar'),
        |  ('part', 5, 'p_size', 'int'),
        |  ('part', 6, 'p_retailprice', 'double'),
        |  ('region', 1, 'r_regionkey', 'int'),
        |  ('region', 2, 'r_name', 'varchar'),
        |  ('supplier', 1, 's_suppkey', 'bigint'),
        |  ('supplier', 2, 's_name', 'varchar'),
        |  ('supplier', 3, 's_nationkey', 'int'),
        |  ('supplier', 4, 's_acctbal', 'double')
        |) AS t(table_name, ordinal, column_name, data_type)
        |ORDER BY table_name, ordinal""".stripMargin,
    // the oracle recomputes the expected fold straight from documents —
    // equality proves the CSV round trip preserved every byte
    "sink_csv_escaping_roundtrip" ->
      """WITH p AS (
        |  SELECT lang,
        |         'q"c,n' || chr(10) || 'l:' || substr(text, 1, 20)
        |           AS payload
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_rows,
        |       CAST(sum(len(payload)) AS BIGINT) AS sum_payload_chars,
        |       CAST(count(DISTINCT payload) AS BIGINT)
        |         AS n_distinct_payloads
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,
    "sink_compact_smallfiles" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // committed versions only: the uncommitted % 3 = 2 slice is ON DISK
    // in the staged layout but excluded here — a manifest-isolation
    // failure shows up as extra rows/hash mismatch
    "sink_manifest_commit" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // same derived bounds straight from orders — equality proves the
    // manifest-pruned file set covers the key range exactly
    "sink_manifest_skipping" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderkey >= (SELECT CAST(floor(max(o_orderkey) * 0.37)
        |                                 AS BIGINT) FROM orders)
        |  AND o_orderkey <= (SELECT CAST(floor(max(o_orderkey) * 0.55)
        |                                 AS BIGINT) FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the post-merge snapshot recomputed straight from orders: target
    // rows (%3 <> 2) inside the derived [40%, 50%] key band carry the
    // merged status 'U'; the %3 = 2 slice arrives as inserts unchanged
    "sink_merge_upsert" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |m AS (
        |  SELECT CASE WHEN o_orderkey % 3 <> 2
        |                AND o_orderkey >= CAST(floor(mk * 0.40) AS BIGINT)
        |                AND o_orderkey <= CAST(floor(mk * 0.50) AS BIGINT)
        |              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice
        |  FROM orders, mx
        |)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // dry-run accounting: retain=1 condemns the superseded v0+v1 slices
    // (12 files) plus the aged orphan (2) — every orders row; retain>=2
    // keeps the superseded history, so only the orphan (%3=2 slice, 2
    // files) is reclaimable. File counts are fixture constants (the
    // slices are written with repartition(n), which guarantees n files)
    "sink_vacuum_report" ->
      """WITH lv AS (
        |  SELECT 1 AS retain, 14 AS files_reclaimable,
        |         CAST(count(*) AS BIGINT) AS rows_reclaimable,
        |         round(sum(o_totalprice), 2) AS revenue_reclaimable
        |  FROM orders
        |  UNION ALL
        |  SELECT 2, 2, CAST(count(*) AS BIGINT),
        |         round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey % 3 = 2
        |  UNION ALL
        |  SELECT 3, 2, CAST(count(*) AS BIGINT),
        |         round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey % 3 = 2
        |)
        |SELECT CAST(retain AS BIGINT) AS retain,
        |       CAST(files_reclaimable AS BIGINT) AS files_reclaimable,
        |       rows_reclaimable, revenue_reclaimable
        |FROM lv ORDER BY retain""".stripMargin,
    // clone = post-merge snapshot (shared by reference) + its own 'C'
    // append; source = the post-merge snapshot alone
    "sink_clone_zero_copy" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |m AS (
        |  SELECT CASE WHEN o_orderkey % 3 <> 2
        |                AND o_orderkey >= CAST(floor(mk * 0.40) AS BIGINT)
        |                AND o_orderkey <= CAST(floor(mk * 0.50) AS BIGINT)
        |              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice
        |  FROM orders, mx
        |), cu AS (
        |  SELECT o_orderstatus, o_totalprice FROM m
        |  UNION ALL
        |  SELECT 'C' AS o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 2
        |), a AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_clone,
        |         round(sum(o_totalprice), 2) AS rev_clone
        |  FROM cu GROUP BY o_orderstatus
        |), b AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_src,
        |         round(sum(o_totalprice), 2) AS rev_src
        |  FROM m GROUP BY o_orderstatus
        |)
        |SELECT a.o_orderstatus, n_clone, rev_clone,
        |       coalesce(n_src, 0) AS n_src,
        |       coalesce(rev_src, 0.0) AS rev_src
        |FROM a LEFT JOIN b ON a.o_orderstatus = b.o_orderstatus
        |ORDER BY a.o_orderstatus""".stripMargin,
    // the pair resolves (fact 1, view 1): both column pairs recompute
    // the SAME post-merge state from orders — a mixed pair resolution
    // would split them
    "sink_txn_pair" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |m AS (
        |  SELECT CASE WHEN o_orderkey % 3 <> 2
        |                AND o_orderkey >= CAST(floor(mk * 0.40) AS BIGINT)
        |                AND o_orderkey <= CAST(floor(mk * 0.50) AS BIGINT)
        |              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice
        |  FROM orders, mx
        |), g AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |               AS DOUBLE), 2) AS rev
        |  FROM m GROUP BY o_orderstatus
        |)
        |SELECT o_orderstatus, n AS n_orders, rev AS revenue,
        |       n AS n_recomputed, rev AS rev_recomputed
        |FROM g ORDER BY o_orderstatus""".stripMargin,
    // post-vacuum live set = the v2 compaction's content = %3 in (0, 1);
    // unreferenced_files_after = 0 is the completeness invariant the
    // Spark side recomputes from the physical layout
    "sink_vacuum_retention" ->
      """SELECT CAST(count(*) AS BIGINT) AS rows_live,
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(0 AS BIGINT) AS unreferenced_files_after
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)""".stripMargin,
    // post-GC steady state: the same live set as the data vacuum, with
    // exactly one manifest left
    "sink_vacuum_log" ->
      """SELECT CAST(count(*) AS BIGINT) AS rows_live,
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(1 AS BIGINT) AS versions_remaining
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)""".stripMargin,
    // the applied replica must equal the post-merge target — same
    // recompute as sink_merge_upsert, derived independently of the feed
    "sink_changefeed_apply" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |m AS (
        |  SELECT CASE WHEN o_orderkey % 3 <> 2
        |                AND o_orderkey >= CAST(floor(mk * 0.40) AS BIGINT)
        |                AND o_orderkey <= CAST(floor(mk * 0.50) AS BIGINT)
        |              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice
        |  FROM orders, mx
        |)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // six live sets recomputed independently; merge/wap/partevo must all
    // equal the full table, compact = the %3 in (0,1) slice, dv = the
    // %7<>3 slice, overwrite = the F-partition retention view
    "pipeline_lakehouse_census" ->
      """SELECT feature, CAST(rows_live AS BIGINT) AS rows_live, revenue
        |FROM (
        |  SELECT 'compact_txn' AS feature, count(*) AS rows_live,
        |         round(sum(o_totalprice), 2) AS revenue
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 'delete_vectors', count(*), round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderkey % 7 <> 3
        |  UNION ALL
        |  SELECT 'merge_upsert', count(*), round(sum(o_totalprice), 2)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'overwrite_txn', count(*), round(sum(o_totalprice), 2)
        |  FROM orders WHERE o_orderstatus <> 'F' OR o_totalprice > 150000
        |  UNION ALL
        |  SELECT 'partition_evolution', count(*), round(sum(o_totalprice), 2)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'wap_publish', count(*), round(sum(o_totalprice), 2)
        |  FROM orders
        |) ORDER BY feature""".stripMargin,
    // the F slice recomputed from orders; 3 files scanned (2 legacy + 1
    // matching evolved partition), 2 evolved partitions pruned unopened
    "sink_partition_evolution" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(3 AS BIGINT) AS files_scanned,
        |       CAST(2 AS BIGINT) AS files_pruned
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the published view = the v1 snapshot (all orders); the bad v2
    // batch never reaches the ref, so exactly one commit is quarantined
    "sink_wap_publish" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       CAST(1 AS BIGINT) AS version_published,
        |       CAST(1 AS BIGINT) AS commits_quarantined
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // live set after the DV delete = all orders off the %7=3 slice
    "sink_delete_vectors" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderkey % 7 <> 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the compacted rewrite must serve the identical live set
    "sink_dv_compact" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderkey % 7 <> 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the maintained view must equal the post-merge aggregate recomputed
    // from orders — DECIMAL sums on both sides (exact, associative), so
    // Spark's view0+delta fold and DuckDB's one-pass sum meet bit-for-bit
    "sink_changefeed_ivm" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |m AS (
        |  SELECT CASE WHEN o_orderkey % 3 <> 2
        |                AND o_orderkey >= CAST(floor(mk * 0.40) AS BIGINT)
        |                AND o_orderkey <= CAST(floor(mk * 0.50) AS BIGINT)
        |              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice
        |  FROM orders, mx
        |)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |             AS DOUBLE), 2) AS revenue
        |FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // full orders aggregate + the fixture's deterministic read-path
    // constants (checkpoint at v8, one delta past it)
    "sink_log_checkpoint" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |             AS DOUBLE), 2) AS revenue,
        |       CAST(8 AS BIGINT) AS ck_version,
        |       CAST(1 AS BIGINT) AS deltas_replayed
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // the v1 join view recomputed from scratch: fact v1 = all orders
    // with the band rows of the %3≠2 slice repriced (+100.0 as DOUBLE
    // — both engines do the identical IEEE add before the decimal
    // cast), dim v1 = customer with every 50th segment reassigned
    "sink_changefeed_ivm_join" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |f1 AS (
        |  SELECT o_custkey,
        |         CASE WHEN o_orderkey % 3 <> 2
        |               AND o_orderkey >= CAST(floor(mk * 0.40) AS BIGINT)
        |               AND o_orderkey <= CAST(floor(mk * 0.50) AS BIGINT)
        |              THEN o_totalprice + 100.0
        |              ELSE o_totalprice END AS price
        |  FROM orders, mx
        |), d1 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 50 = 0 THEN 'REASSIGNED'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer
        |)
        |SELECT seg, count(*) AS n_orders,
        |       round(CAST(sum(CAST(price AS DECIMAL(18,2)))
        |             AS DOUBLE), 2) AS revenue
        |FROM f1 JOIN d1 ON o_custkey = c_custkey
        |GROUP BY seg ORDER BY seg""".stripMargin,
    // the change feed recomputed from orders: inserts = the %3=2 slice,
    // updates = target rows inside the derived [40%, 50%] key band
    // (status flips to 'U', so every matched row IS a change)
    "sink_changefeed" ->
      """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders)
        |SELECT op, CAST(n_rows AS BIGINT) AS n_rows, revenue FROM (
        |  SELECT 'insert' AS op, count(*) AS n_rows,
        |         round(sum(o_totalprice), 2) AS revenue
        |  FROM orders WHERE o_orderkey % 3 = 2
        |  UNION ALL
        |  SELECT 'update' AS op, count(*) AS n_rows,
        |         round(sum(o_totalprice), 2) AS revenue
        |  FROM orders, mx
        |  WHERE o_orderkey % 3 <> 2
        |    AND o_orderkey >= CAST(floor(mk * 0.40) AS BIGINT)
        |    AND o_orderkey <= CAST(floor(mk * 0.50) AS BIGINT)
        |) ORDER BY op""".stripMargin,
    // same %3 split: v0 rows (%3=0) carry NULL in the added column
    "sink_schema_evolution_txn" ->
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_priced,
        |       round(sum(CASE WHEN o_orderkey % 3 <> 0
        |                      THEN o_totalprice END), 2) AS revenue
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // all three writers' slices exactly once = the full orders table
    "sink_concurrent_appends" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the compacted snapshot must equal the pre-compaction live set
    // row-for-row — recomputed from the committed slices
    "sink_compact_txn" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the post-overwrite snapshot recomputed straight from orders: the
    // v1 retention commit replaced partition F with its >150000 slice
    "sink_overwrite_txn" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderstatus <> 'F' OR o_totalprice > 150000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // v0 = the full pre-overwrite table, v1 = the post-overwrite view —
    // both recomputable from orders because each manifest is immutable
    "sink_overwrite_timetravel" ->
      """SELECT 0 AS version, o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 1 AS version, o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderstatus <> 'F' OR o_totalprice > 150000
        |GROUP BY o_orderstatus
        |ORDER BY version, o_orderstatus""".stripMargin,
    // 2 committed versions by construction; live vs orphan row counts
    // recomputed from the slices — the vacuum scan must see EXACTLY the
    // crashed writer's rows and nothing committed
    "sink_manifest_vacuum" ->
      """SELECT CAST(2 AS BIGINT) AS versions_retained,
        |       (SELECT count(*) FROM orders
        |        WHERE o_orderkey % 3 IN (0, 1)) AS rows_live,
        |       (SELECT count(*) FROM orders
        |        WHERE o_orderkey % 3 = 2) AS rows_orphaned""".stripMargin,
    // ground truth of the layout invariants: 8 non-empty range
    // partitions, every row written, zero overlapping file ranges
    "sink_range_partitioned" ->
      """SELECT CAST(8 AS BIGINT) AS n_files, count(*) AS total_rows,
        |       CAST(0 AS BIGINT) AS overlapping_pairs
        |FROM orders""".stripMargin,
    "shard_manifest_write" ->
      """SELECT doc_id % 8 AS shard, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    "sort_zorder" ->
      """SELECT count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events WHERE user_id BETWEEN 40 AND 80
        |  AND value BETWEEN 100.0 AND 200.0""".stripMargin,
    "scan_orc" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "scan_parquet_bloom" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey = 73
        |ORDER BY o_orderkey""".stripMargin,
    "sink_partitioned_capped" ->
      """SELECT lang, CAST(ceil(count(*) / 100.0) AS BIGINT) AS n_files
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "join_salted_skew" ->
      """SELECT o_orderstatus, round(sum(l_extendedprice), 2) AS rev,
        |       count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "scan_partition_pruned" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_dpp" ->
      """SELECT o_orderstatus, count(*) AS cnt FROM orders
        |WHERE year(o_orderdate) IN (
        |  SELECT DISTINCT year(l_shipdate) FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "sink_jsonl_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "join_bucketed_sorted" ->
      """SELECT o_orderstatus, round(sum(l_extendedprice), 2) AS sum_price,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderpriority, round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_runtime_bloom" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the gz round-trip must reproduce the source table exactly
    "scan_csv_gzip" ->
      """SELECT event_type, count(*) AS cnt,
        |       round(sum(value), 2) AS sum_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // both codecs must conserve the slice bit-for-bit
    "sink_compression_codecs" ->
      """SELECT codec, count(*) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem,
        |     (SELECT unnest(['snappy', 'zstd']) AS codec) c
        |GROUP BY codec ORDER BY codec""".stripMargin,
    // the managed tables are byte-copies of the parquet inputs, so the
    // raw tables are the ground truth
    "stats_analyze_cbo" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 100000
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "cache_reuse_scan" ->
      """WITH slice AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_quantity > 20
        |)
        |SELECT key, n_rows, total FROM (
        |  SELECT concat('flag:', l_returnflag) AS key,
        |         count(*) AS n_rows,
        |         round(sum(l_extendedprice), 2) AS total
        |  FROM slice GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT concat('qty_bucket:',
        |                CAST(CAST(floor(l_quantity / 10) AS BIGINT)
        |                     AS VARCHAR)) AS key,
        |         count(*) AS n_rows,
        |         round(sum(l_extendedprice), 2) AS total
        |  FROM slice GROUP BY floor(l_quantity / 10)
        |) ORDER BY key""".stripMargin,
    "join_skew_aqe" ->
      """SELECT n_name, count(*) AS n_cust,
        |       round(sum(c_acctbal), 2) AS sum_bal
        |FROM (SELECT c_acctbal,
        |             CASE WHEN c_custkey % 4 <> 0 THEN 0
        |                  ELSE c_nationkey END AS skew_key
        |      FROM customer) c
        |JOIN nation ON skew_key = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
  )
}
