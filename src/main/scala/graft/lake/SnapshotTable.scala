package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Multi-snapshot Iceberg-shaped table on plain Parquet — the versioned
  * complement of [[graft.img.IcebergShaped]] (which commits exactly one
  * snapshot). No Iceberg runtime exists in this sandbox (SURVEY.md §7.1),
  * so the table format is reimplemented from its public semantics: an
  * immutable data-file pool, per-snapshot manifests that LIST files (never
  * copy them), and an atomically-swapped current-version pointer. That
  * gives the four capabilities a 10^12-row corpus pipeline actually uses:
  *
  *  - MERGE (upsert) as copy-on-write over hash buckets: only buckets
  *    containing updated keys are rewritten; every other file is carried
  *    forward BY REFERENCE into the new manifest. Work is O(changed
  *    buckets), not O(table) — the property that makes daily corpus
  *    refreshes affordable at 100 TB.
  *  - Time travel: any retained version reads exactly its manifest's files.
  *  - Incremental scan: files in version B but not version A — exact
  *    changelog for appends; for merges it yields the rewritten buckets
  *    (a superset of changed rows, same as Iceberg's changelog-less scans).
  *  - Rollback + expiry: the pointer moves; expiry deletes only files no
  *    retained manifest references.
  *
  * Layout (all commits single-writer; a CAS on CURRENT — rename-if-match —
  * is the object-store upgrade path, out of scope here):
  * {{{
  *   dir/data/s<V>/__bucket=<b>/part-*.parquet   // files written by commit V
  *   dir/_meta/v<V>.json                         // manifest (version, parent, op, files)
  *   dir/_meta/CURRENT                           // pointer, ATOMIC_MOVE'd last
  * }}}
  *
  * The bucket function is caller-supplied (`bucketOf`) and must be the same
  * expression at create/append/merge time — the engine default is
  * `pmod(hash(key), n)`, but oracle-checked queries pass a splitmix64-based
  * bucket so DuckDB can replay the assignment (q82/q83).
  *
  * Per-file row counts are captured by re-reading ONLY the files the commit
  * just wrote (the delta, not the table) — the stats Iceberg would carry in
  * its commit metadata — so `read(verify = true)` can check manifest-vs-file
  * row totals without trusting the writer.
  */
object SnapshotTable {

  /** `minKey`/`maxKey` are per-file stats of the table's STATS COLUMN
    * (the Iceberg lower_bounds/upper_bounds idea, one designated BIGINT
    * column): present on files written by a stats-aware commit, absent on
    * older files — absence means "can't skip", never "skip".
    */
  final case class FileEntry(path: String, bucket: Int, rows: Long,
      minKey: Option[Long] = None, maxKey: Option[Long] = None,
      statsOf: Option[String] = None)
  final case class Manifest(version: Long, parent: Long, op: String,
      buckets: Int, files: Seq[FileEntry], totalRows: Long,
      schemaDdl: String, statsCol: Option[String] = None,
      tsMillis: Long = 0L) {
    def schema: StructType = StructType.fromDDL(schemaDdl)
  }

  /** Columns the delta ADDS evolve the table schema (appended, nullable
    * for pre-existing files); columns it shares must keep their type;
    * columns it OMITS stay and read as NULL in the delta's rows. This is
    * the manifest-tracked schema evolution Iceberg does — inference over
    * mixed-schema files would pick whichever file the reader lists first.
    */
  private def evolve(parent: StructType, delta: StructType, op: String): StructType = {
    parent.foreach { pf =>
      delta.find(_.name == pf.name).foreach { d =>
        require(d.dataType == pf.dataType,
          s"$op: column '${pf.name}' arrives as ${d.dataType}, table has ${pf.dataType}")
      }
    }
    // added columns are ALWAYS nullable: every pre-evolution file reads
    // them as NULL, so recording the delta's NOT NULL would be a lie the
    // empty-snapshot path and external DDL consumers would act on
    StructType(parent ++ delta.filterNot(f => parent.exists(_.name == f.name))
      .map(_.copy(nullable = true)))
  }

  /** Project `df` onto `schema`: missing columns become typed NULLs. */
  private def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.map(f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)

  private def metaDir(dir: String): Path = Paths.get(dir, "_meta")
  private def manifestPath(dir: String, v: Long): Path = metaDir(dir).resolve(s"v$v.json")

  /** Current version, or 0 when the table does not exist yet. */
  def currentVersion(dir: String): Long = {
    val p = metaDir(dir).resolve("CURRENT")
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  /** Next commit version: one past the highest manifest EVER written in
    * this table — never `parent + 1`, which after [[rollback]] would
    * collide with the orphaned branch's head (its `data/s$v` directory
    * makes the write crash; its manifest would be silently rewritten).
    * Iceberg never reuses snapshot ids: the orphaned version stays
    * readable until [[expire]]d. O(versions) name listing, no manifest
    * is opened.
    */
  private def nextVersion(dir: String): Long =
    listVersions(dir).foldLeft(0L)(math.max) + 1L

  /** Version numbers of every retained manifest. One copy of the name
    * listing (previously triplicated across nextVersion/orphanFiles/
    * expire), and the directory stream is CLOSED — `Files.list` holds an
    * open fd until closed, and a long-lived driver committing in a loop
    * leaked one per commit.
    */
  private def listVersions(dir: String): Seq[Long] = {
    val st = Files.list(metaDir(dir))
    try st.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq
    finally st.close()
  }

  def manifest(dir: String, v: Long): Manifest = {
    val json = Files.readString(manifestPath(dir, v))
    def num(k: String): Long = (s""""$k":(-?\\d+)""").r.findFirstMatchIn(json)
      .getOrElse(sys.error(s"manifest v$v missing $k")).group(1).toLong
    val files =
      ("""\{"path":"([^"]+)","bucket":(\d+),"rows":(\d+)""" +
        """(?:,"min":(-?\d+),"max":(-?\d+))?(?:,"sof":"([^"]+)")?\}""").r
      .findAllMatchIn(json)
      .map(m => FileEntry(m.group(1), m.group(2).toInt, m.group(3).toLong,
        Option(m.group(4)).map(_.toLong), Option(m.group(5)).map(_.toLong),
        Option(m.group(6)))).toSeq
    val op = """"op":"([^"]+)"""".r.findFirstMatchIn(json).get.group(1)
    val ddl = """"schema":"([^"]*)"""".r.findFirstMatchIn(json)
      .getOrElse(sys.error(s"manifest v$v missing schema")).group(1)
    val statsCol = """"stats_col":"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1))
    // ts_ms absent on pre-upgrade manifests: 0 = "before any timestamp"
    val ts = """"ts_ms":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
    Manifest(num("version"), num("parent"), op, num("buckets").toInt,
      files, num("total_rows"), ddl, statsCol, ts)
  }

  private def writeManifest(dir: String, m: Manifest,
      knownParentTs: Long): Unit = {
    Files.createDirectories(metaDir(dir))
    val fs = m.files.sortBy(_.path)
      .map { f =>
        val stats = (f.minKey, f.maxKey) match {
          case (Some(lo), Some(hi)) => s""","min":$lo,"max":$hi"""
          case _ => ""
        }
        val sof = f.statsOf.map(c => s""","sof":"$c"""").getOrElse("")
        s"""{"path":"${f.path}","bucket":${f.bucket},"rows":${f.rows}$stats$sof}"""
      }
      .mkString(",")
    require(!m.schemaDdl.contains('"') && !m.schemaDdl.contains('\\'),
      s"schema DDL not JSON-safe: ${m.schemaDdl}")
    val sc = m.statsCol.map(c => s""""stats_col":"$c",""").getOrElse("")
    // strictly increasing commit timestamps (Iceberg's snapshot-log
    // ordering assumption): two commits landing in the same millisecond
    // must not make versionAsOf(ts) ambiguous between them
    // callers pass the parent Manifest's ts they already hold; the file
    // re-parse below is only the fallback (it costs an O(file-count)
    // regex pass per commit on a large table)
    val parentTs =
      if (knownParentTs >= 0L) knownParentTs
      else if (m.parent > 0 && Files.exists(manifestPath(dir, m.parent)))
        manifest(dir, m.parent).tsMillis
      else 0L
    val ts =
      if (m.tsMillis > 0) m.tsMillis
      else math.max(System.currentTimeMillis(), parentTs + 1)
    val json = s"""{"version":${m.version},"parent":${m.parent},"op":"${m.op}",""" +
      s""""buckets":${m.buckets},"total_rows":${m.totalRows},$sc"ts_ms":$ts,""" +
      s""""schema":"${m.schemaDdl}","files":[$fs]}"""
    Files.writeString(manifestPath(dir, m.version), json)
    // the pointer swap IS the commit: a crash before this line leaves the
    // previous version current and the new files unreferenced (expirable)
    val tmp = metaDir(dir).resolve(s".CURRENT.${m.version}.tmp")
    Files.writeString(tmp, m.version.toString)
    Files.move(tmp, metaDir(dir).resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write `df`'s rows as commit-`v` data files and return their entries.
    * One shuffle on the bucket key; the stats read-back touches only the
    * files just written (delta-sized, never table-sized).
    */
  private def writeData(spark: SparkSession, df: DataFrame, dir: String,
      v: Long, bucketOf: Column, statsCol: Option[String],
      nBuckets: Int): Seq[FileEntry] =
    commitFiles(spark, df.withColumn("__bucket", bucketOf.cast("int")), dir, v,
      statsCol, nBuckets)

  /** Write a `__bucket`-carrying frame as commit-`v` files and stat them.
    * Stats come straight from the parquet FOOTERS of the files this
    * commit just wrote — per-file row counts plus the stats column's
    * min/max over its row groups — which is exactly what Iceberg records
    * into its commit metadata. Driver-side footer reads over the delta's
    * file list (delta-sized, never table-sized) replace a whole Spark
    * job (read → groupBy(input_file_name) → collect) per commit; the
    * listing goes through the Hadoop FileSystem API so the same code
    * runs against an object store. A zero-row frame writes no data
    * files — an empty delta is a clean no-op commit, not a crash.
    */
  private def commitFiles(spark: SparkSession, bucketed: DataFrame, dir: String,
      v: Long, statsCol: Option[String], nBuckets: Int): Seq[FileEntry] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.column.statistics.LongStatistics
    val out = s"$dir/data/s$v"
    // AQE is scope-disabled for the commit write: the bucket-hash
    // repartition is the table's layout contract (deterministic file-per-
    // bucket placement), so adaptive re-planning has nothing to improve
    // there — and it charges ~0.8 s of per-write stage re-optimization
    // overhead to every commit regardless of delta size
    // session-global toggle: commits are SINGLE-WRITER by contract (the
    // CURRENT pointer swap is the serialization point), and the engine
    // does not run unrelated queries concurrently on the committing
    // session - a concurrent reader on the same session would briefly
    // plan without AQE, which is correct, just less optimized
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqeKey, "true")
    spark.conf.set(aqeKey, "false")
    // nBuckets shuffle partitions, not the session default: each bucket
    // still lands in exactly one partition (file-per-bucket placement is
    // preserved under ANY partition count; two buckets sharing a task
    // just write two files), but a commit no longer schedules
    // (default − buckets) empty write tasks — at 8-16 buckets that was
    // 16-24 dead tasks per commit across the whole snapshot family
    try bucketed.repartition(nBuckets, col("__bucket"))
      .write.partitionBy("__bucket").parquet(out)
    finally spark.conf.set(aqeKey, prevAqe)
    val conf = spark.sessionState.newHadoopConf()
    val outPath = new org.apache.hadoop.fs.Path(out)
    val hfs = outPath.getFileSystem(conf)
    val statuses = {
      val it = hfs.listFiles(outPath, true)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) buf += st
      }
      buf.toSeq
    }
    // footer opens are independent IO — a bounded thread pool keeps the
    // per-commit stat pass at ~max(file latency), not Σ(file latency)
    // (64 sequential local opens already cost ~0.3 s; object-store
    // round trips would make sequential reads the commit bottleneck)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, statuses.size)))
    try {
      val futures = statuses.map { st =>
        pool.submit(new java.util.concurrent.Callable[FileEntry] {
          def call(): FileEntry = {
            val pathStr = st.getPath.toString
            val b = "__bucket=(\\d+)".r.findFirstMatchIn(pathStr)
              .getOrElse(sys.error(s"unbucketed data file $pathStr")).group(1).toInt
            val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
            try {
              val blocks = reader.getFooter.getBlocks.asScala.toSeq
              val rows = blocks.map(_.getRowCount).sum
              // min/max only when every row group carries usable long
              // stats with at least one non-null value — absence means
              // "can't skip", the same contract as the manifest reader
              val stats = statsCol.flatMap { c =>
                val per = blocks.map(_.getColumns.asScala
                  .find(_.getPath.toDotString == c).map(_.getStatistics).orNull)
                val longs = per.collect {
                  case ls: LongStatistics if !ls.isEmpty && ls.hasNonNullValue => ls
                }
                if (longs.isEmpty || per.exists(s => s == null || s.isEmpty)) None
                else Some((longs.map(_.getMin).min, longs.map(_.getMax).max))
              }
              FileEntry(pathStr, b, rows, stats.map(_._1), stats.map(_._2),
                if (stats.isDefined) statsCol else None)
            } finally reader.close()
          }
        })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Create version 1. Fails if the table already exists. `statsCol`
    * designates ONE BIGINT column whose per-file min/max every commit
    * records (Iceberg bounds) — [[readPruned]] then skips files whose
    * range misses a predicate. Inherited by every later commit.
    */
  def create(spark: SparkSession, df: DataFrame, dir: String,
      buckets: Int, bucketOf: Column, statsCol: Option[String] = None): Manifest = {
    require(currentVersion(dir) == 0L, s"table already exists at $dir")
    statsCol.foreach(c => require(df.columns.contains(c),
      s"stats column '$c' not in ${df.columns.mkString(", ")}"))
    val files = writeData(spark, df, dir, 1L, bucketOf, statsCol, buckets)
    val m = Manifest(1L, 0L, "create", buckets, files, files.map(_.rows).sum,
      df.schema.toDDL, statsCol)
    writeManifest(dir, m, 0L); m
  }

  /** Append-only commit: parent files carried forward + the new files.
    * No key check (Iceberg append semantics). The delta may add columns
    * (schema evolves) or omit table columns (stored as typed NULLs) —
    * see [[evolve]].
    */
  def append(spark: SparkSession, df: DataFrame, dir: String,
      bucketOf: Column): Manifest = {
    val parent = manifest(dir, currentVersion(dir))
    val v = nextVersion(dir)
    val schema = evolve(parent.schema, df.schema, "append")
    val files = writeData(spark, align(df, schema), dir, v,
      bucketOf, parent.statsCol, parent.buckets)
    val m = Manifest(v, parent.version, "append", parent.buckets,
      parent.files ++ files, parent.totalRows + files.map(_.rows).sum,
      schema.toDDL, parent.statsCol)
    writeManifest(dir, m, parent.tsMillis); m
  }

  /** Copy-on-write MERGE (upsert on `keyCol`): rows of `updates` replace
    * same-key rows and insert otherwise. Only buckets containing an update
    * key are read and rewritten; all other parent files carry forward by
    * reference. The affected-bucket set is collected on the driver — it is
    * bounded by `buckets`, metadata-sized by construction.
    */
  def merge(spark: SparkSession, updates: DataFrame, dir: String,
      keyCol: String, bucketOf: Column): Manifest = {
    require(updates.columns.contains(keyCol),
      s"merge updates lack the key column '$keyCol' (have ${updates.columns.mkString(", ")})")
    val parent = manifest(dir, currentVersion(dir))
    val v = nextVersion(dir)
    val schema = evolve(parent.schema, updates.schema, "merge")
    val up = align(updates, schema).withColumn("__bucket", bucketOf.cast("int"))
    // ONE bucket-sized precheck job does both contract checks: the
    // affected-bucket set (bounded by `buckets`, metadata-sized) and the
    // duplicate-key guard — upsert is only well defined for one update
    // row per key, and since the bucket is a function of the key,
    // duplicates are confined to a bucket, so rows ≠ distinct-keys per
    // bucket detects them without a key-sized collect. Only the rare
    // failure path pays a second (delta-sized) job to name the offender.
    val perBucket = up.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("n"), count_distinct(col(keyCol)).as("nk"))
      .collect()
    if (perBucket.exists(r => r.getLong(1) != r.getLong(2))) {
      val dupKey = up.groupBy(col(keyCol)).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dupKey.isEmpty,
        s"merge updates contain duplicate '$keyCol' key ${dupKey.head.get(0)}; " +
          "upsert requires exactly one update row per key")
    }
    val affected = perBucket.map(_.getInt(0)).toSet
    val (touched, carried) = parent.files.partition(f => affected(f.bucket))
    // read ONLY the touched buckets' files (under the EVOLVED schema, so
    // pre-evolution files surface typed NULLs); anti-join out replaced keys
    val survivors =
      if (touched.isEmpty) None
      else Some(spark.read.schema(schema).parquet(touched.map(_.path): _*)
        .join(up.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti"))
    val newData = survivors match {
      case Some(s) => s.withColumn("__bucket", bucketOf.cast("int"))
        .unionByName(up)
      case None => up
    }
    val files = commitFiles(spark, newData, dir, v, parent.statsCol,
      parent.buckets)
    val m = Manifest(v, parent.version, "merge", parent.buckets,
      carried ++ files, carried.map(_.rows).sum + files.map(_.rows).sum,
      schema.toDDL, parent.statsCol)
    writeManifest(dir, m, parent.tsMillis); m
  }

  /** Read a version (default: current). `verify = true` recounts rows and
    * checks them against the manifest total — a full scan, off by default.
    */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None,
      verify: Boolean = false): DataFrame = {
    val v = version.getOrElse(currentVersion(dir))
    require(v > 0, s"no committed snapshot at $dir")
    val m = manifest(dir, v)
    if (m.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema)
    // the MANIFEST schema is authoritative — files committed before an
    // evolution lack the added columns and surface typed NULLs; schema
    // inference would instead pick whichever file lists first
    val df = spark.read.schema(m.schema).parquet(m.files.map(_.path): _*)
    if (verify) {
      val n = df.count()
      require(n == m.totalRows, s"v$v manifest says ${m.totalRows} rows, files have $n")
    }
    df
  }

  /** Small-file compaction: rewrite every bucket fragmented across more
    * than one data file (appends accumulate one file per commit per
    * bucket) into a single file; single-file buckets carry forward by
    * reference. A pure layout commit — rows are bit-identical, the work
    * is O(fragmented buckets), never O(table). Bucket ids are recovered
    * from the `__bucket=` path segment, so no bucket expression (and no
    * key knowledge) is needed. Returns the parent manifest unchanged (no
    * new commit) when nothing is fragmented — compaction is idempotent.
    */
  def compact(spark: SparkSession, dir: String): Manifest = {
    val parent = manifest(dir, currentVersion(dir))
    val byBucket = parent.files.groupBy(_.bucket)
    val (frag, single) = byBucket.partition(_._2.size > 1)
    if (frag.isEmpty) return parent
    val carried = single.values.flatten.toSeq
    val v = nextVersion(dir)
    // parent-schema read, not inference: fragmented buckets can mix files
    // from before and after a schema evolution
    val df = spark.read.schema(parent.schema)
      .parquet(frag.values.flatten.map(_.path).toSeq: _*)
      .withColumn("__bucket",
        regexp_extract(input_file_name(), "__bucket=(\\d+)", 1).cast("int"))
    val files = commitFiles(spark, df, dir, v, parent.statsCol, parent.buckets)
    val m = Manifest(v, parent.version, "compact", parent.buckets,
      carried ++ files, parent.totalRows, parent.schemaDdl, parent.statsCol)
    writeManifest(dir, m, parent.tsMillis); m
  }

  /** Copy-on-write DELETE: remove rows where `pred` is TRUE (NULL-pred
    * rows survive — SQL DELETE semantics, via coalesce). Only files
    * CONTAINING a match are rewritten; every other parent file carries
    * forward by reference. The find pass is one scan returning matched
    * file PATHS (driver-sized — bounded by the file count, the same
    * metadata class as merge's affected-bucket set); the rewrite then
    * reads matched files only. A predicate matching nothing returns the
    * parent manifest unchanged (no new commit) — delete is idempotent.
    */
  def delete(spark: SparkSession, dir: String, pred: Column,
      bucketOf: Column): Manifest = {
    val parent = manifest(dir, currentVersion(dir))
    if (parent.files.isEmpty) return parent
    val hit = coalesce(pred, lit(false))
    // input_file_name() URIs ("file:///x") and Hadoop Path strings
    // ("file:/x") name the same file with different slash counts —
    // normalize both sides before the set test
    def norm(p: String): String =
      if (p.startsWith("file:")) "file:/" + p.stripPrefix("file:").dropWhile(_ == '/')
      else p
    val matched = spark.read.schema(parent.schema)
      .parquet(parent.files.map(_.path): _*)
      .filter(hit).select(input_file_name().as("p"))
      .distinct().collect().map(r => norm(r.getString(0))).toSet
    if (matched.isEmpty) return parent
    val (touched, carried) = parent.files.partition(f => matched(norm(f.path)))
    val v = nextVersion(dir)
    val survivors = spark.read.schema(parent.schema)
      .parquet(touched.map(_.path): _*)
      .filter(!hit)
      .withColumn("__bucket", bucketOf.cast("int"))
    val files = commitFiles(spark, survivors, dir, v, parent.statsCol,
      parent.buckets)
    val m = Manifest(v, parent.version, "delete", parent.buckets,
      carried ++ files, carried.map(_.rows).sum + files.map(_.rows).sum,
      parent.schemaDdl, parent.statsCol)
    writeManifest(dir, m, parent.tsMillis); m
  }

  /** Rows in files referenced by `toV` but not by `fromV` — the exact
    * changelog for append commits; for merge commits, the rewritten
    * buckets' full contents (Iceberg's same superset semantics).
    */
  def incremental(spark: SparkSession, dir: String, fromV: Long, toV: Long): DataFrame = {
    val to = manifest(dir, toV)
    val before = manifest(dir, fromV).files.map(_.path).toSet
    val added = to.files.map(_.path).filterNot(before)
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        to.schema)
    else spark.read.schema(to.schema).parquet(added: _*)
  }

  /** Row-level change-data-feed between two versions — the changelog
    * Iceberg's `create_changelog_view` derives: one row per inserted or
    * deleted key, two rows (`update_pre`/`update_post`) per key whose
    * payload changed. Scale shape: files referenced by BOTH manifests were
    * carried by reference and hold bit-identical rows, so they are never
    * read — the diff touches only the symmetric difference of the two file
    * lists, O(changed buckets) exactly like the commits that produced
    * them. Within that scope, rows rewritten with identical content (the
    * co-bucketed survivors of a copy-on-write merge/delete, or an entire
    * compaction) are filtered by a null-safe struct compare, so a pure
    * layout commit yields an EMPTY feed.
    *
    * Defined for key-unique tables (the merge contract); both sides get a
    * delta-sized duplicate-key check. Old files are read under the FROM
    * schema and aligned to the TO schema, so columns added by an evolution
    * surface as `update_*` only when a later commit actually wrote values.
    */
  def changes(spark: SparkSession, dir: String, fromV: Long, toV: Long,
      keyCol: String): DataFrame = {
    val from = manifest(dir, fromV)
    val to = manifest(dir, toV)
    val toSchema = to.schema
    require(toSchema.fieldNames.contains(keyCol),
      s"changes: v$toV schema has no key column '$keyCol'")
    val sharedPaths = from.files.map(_.path).toSet & to.files.map(_.path).toSet
    val oldOnly = from.files.map(_.path).filterNot(sharedPaths)
    val newOnly = to.files.map(_.path).filterNot(sharedPaths)
    val payload = toSchema.filterNot(_.name == keyCol).map(f => col(f.name))
    def side(paths: Seq[String], readSchema: StructType): DataFrame = {
      val df =
        if (paths.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            readSchema)
        else spark.read.schema(readSchema).parquet(paths: _*)
      align(df, toSchema)
    }
    // key-uniqueness guard IN-PLAN (the Ivm.maintainSumCount pattern): a
    // per-side count window over the key — the window's hash requirement
    // is the join's, so no extra exchange — raises on the first duplicate
    // at execution. The old eager groupBy+collect per side cost two extra
    // delta-sized jobs per changes() call and broke lazy composition.
    def guarded(df: DataFrame, label: String, side: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      df.withColumn(s"__g$side",
        when(count(lit(1)).over(w) === 1, lit(0L))
          .otherwise(raise_error(concat(
            lit(s"changes: duplicate '$keyCol' key "), col("__k").cast("string"),
            lit(s" in the $label diff scope; CDC requires key-unique tables")))
            .cast("long")))
    }
    val pre = guarded(side(oldOnly, from.schema)
      .select(col(keyCol).as("__k"), struct(payload: _*).as("__pre")),
      s"v$fromV", "a")
    val post = guarded(side(newOnly, toSchema)
      .select(col(keyCol).as("__k"), struct(payload: _*).as("__post")),
      s"v$toV", "b")
    pre.join(post, Seq("__k"), "full_outer")
      // rewritten-but-identical rows are layout noise, not changes; the
      // guard columns are ADDED into the comparison (not And-ed) so the
      // optimizer cannot prune or reorder them away
      .filter((when(col("__pre").isNull || col("__post").isNull ||
          !(col("__pre") <=> col("__post")), 1L).otherwise(0L) +
        coalesce(col("__ga"), lit(0L)) + coalesce(col("__gb"), lit(0L))) > 0)
      .select(col("__k"), explode(
        when(col("__pre").isNull,
          array(struct(lit("insert").as("op"), col("__post").as("v"))))
        .when(col("__post").isNull,
          array(struct(lit("delete").as("op"), col("__pre").as("v"))))
        .otherwise(array(
          struct(lit("update_pre").as("op"), col("__pre").as("v")),
          struct(lit("update_post").as("op"), col("__post").as("v"))))).as("c"))
      .select((col("c.op").as("_change_type") +: col("__k").as(keyCol) +:
        toSchema.filterNot(_.name == keyCol)
          .map(f => col(s"c.v.${f.name}").as(f.name))): _*)
  }

  /** Manifest-stats file skipping: the files of `version` (default
    * current) whose [min,max] stats column range INTERSECTS [lo, hi],
    * plus every file without stats (absence can't skip). Returns
    * (kept, skipped) — a pure metadata decision, no file is opened.
    */
  def prunePlan(dir: String, lo: Long, hi: Long,
      version: Option[Long] = None): (Seq[FileEntry], Seq[FileEntry]) = {
    val m = manifest(dir, version.getOrElse(currentVersion(dir)))
    require(m.statsCol.isDefined, s"table at $dir carries no stats column")
    m.files.partition { f =>
      // a file's bounds only authorize skipping when they describe the
      // CURRENT stats column (Iceberg partition-spec-evolution reads:
      // pre-evolution files have no bounds for the new spec and must be
      // read); statsOf None = legacy entry under a never-evolved spec
      val effective = f.statsOf.orElse(m.statsCol)
      (f.minKey, f.maxKey) match {
        case (Some(mn), Some(mx)) if effective == m.statsCol =>
          mx >= lo && mn <= hi
        case _ => true // no usable stats under the current spec: must read
      }
    }
  }

  /** Metadata-only commit that CHANGES the designated stats column —
    * the Iceberg partition-spec-evolution analogue for this model's
    * bounds: files written from now on record min/max of `newCol`;
    * files already in the table keep their old-column bounds, stamped
    * with the column they describe (legacy unstamped entries get the
    * parent's stats column), and [[prunePlan]] refuses to skip them
    * under the new spec. No data moves; rewriting history is exactly
    * what spec evolution avoids.
    */
  def evolveStats(dir: String, newCol: String): Manifest = {
    val parent = manifest(dir, currentVersion(dir))
    require(parent.version > 0L, s"no table at $dir")
    require(parent.schema.fieldNames.contains(newCol),
      s"stats column '$newCol' not in ${parent.schema.fieldNames.mkString(", ")}")
    val stamped = parent.files.map { f =>
      if (f.minKey.isDefined && f.statsOf.isEmpty)
        f.copy(statsOf = parent.statsCol)
      else f
    }
    val m = Manifest(nextVersion(dir), parent.version, "evolve_stats",
      parent.buckets, stamped, parent.totalRows, parent.schemaDdl,
      Some(newCol))
    writeManifest(dir, m, parent.tsMillis); m
  }

  /** Read only the rows with statsCol ∈ [lo, hi], opening only the files
    * [[prunePlan]] keeps — Iceberg data skipping: the scan cost tracks
    * the PREDICATE's selectivity across files, not the table size. The
    * residual filter still applies (file ranges overlap the predicate
    * without every row matching).
    */
  def readPruned(spark: SparkSession, dir: String, lo: Long, hi: Long,
      version: Option[Long] = None): DataFrame = {
    val m = manifest(dir, version.getOrElse(currentVersion(dir)))
    val (kept, _) = prunePlan(dir, lo, hi, version)
    val c = col(m.statsCol.get)
    if (kept.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema)
    else spark.read.schema(m.schema).parquet(kept.map(_.path): _*)
      .filter(c >= lo && c <= hi)
  }

  /** The latest CURRENT-lineage ancestor whose commit timestamp is ≤
    * `tsMillis` — Iceberg's `FOR TIMESTAMP AS OF`, which resolves along
    * the table's snapshot log, NOT over every retained manifest: a
    * branch orphaned by [[rollback]] stays readable by version but must
    * never capture timestamp travel. Walks parent pointers from CURRENT
    * (timestamps are strictly increasing along a lineage, so the first
    * eligible ancestor is the answer); reading as of a time before the
    * first commit fails loudly.
    */
  def versionAsOf(dir: String, tsMillis: Long): Long = {
    var v = currentVersion(dir)
    require(v > 0, s"no committed snapshot at $dir")
    while (v > 0) {
      // an expired ancestor ends the walk loudly: nothing retained on the
      // lineage is at-or-before ts (the raw walk crashed with
      // NoSuchFileException when expire() had dropped the parent)
      if (!Files.exists(manifestPath(dir, v)))
        throw new IllegalArgumentException(
          s"no RETAINED snapshot at $dir committed at or before " +
            s"ts=$tsMillis (lineage crosses expired v$v)")
      val m = manifest(dir, v)
      if (m.tsMillis <= tsMillis) return v
      v = m.parent
    }
    throw new IllegalArgumentException(
      s"no snapshot at $dir committed at or before ts=$tsMillis")
  }

  /** [[read]] of [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAsOf(dir, tsMillis)))

  /** Move CURRENT back to `version` (its manifest must still exist). */
  def rollback(dir: String, version: Long): Unit = {
    require(Files.exists(manifestPath(dir, version)), s"no manifest v$version")
    val tmp = metaDir(dir).resolve(s".CURRENT.rb$version.tmp")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, metaDir(dir).resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def refsDir(dir: String): Path = metaDir(dir).resolve("refs")

  /** Dots are allowed INSIDE a name (v1.2-style tags) but not as the
    * first character: a leading dot both shadows the '.name.tmp'
    * staging files (a crash-orphaned temp must never surface as a
    * bogus ref) and rules out the '.'/'..' path-traversal names that
    * would let setRef/dropRef resolve outside the refs directory.
    */
  private def validRefName(name: String): Boolean =
    name.nonEmpty && name.length <= 128 && name.head != '.' &&
      name.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-')

  /** Iceberg-style named ref (tag): an atomic named pointer to a
    * snapshot version, independent of CURRENT — `rollback` moves
    * CURRENT, never refs. Re-setting an existing name retargets it
    * (branch-advance semantics). The pointed-at manifest must exist at
    * set time; [[refVersion]] re-validates at read time so a ref left
    * dangling by [[expire]] fails loudly instead of resolving to
    * garbage (callers expire with refs in mind, as in Iceberg).
    */
  def setRef(dir: String, name: String, version: Long): Unit = {
    require(validRefName(name), s"bad ref name '$name'")
    require(Files.exists(manifestPath(dir, version)), s"no manifest v$version")
    Files.createDirectories(refsDir(dir))
    val tmp = refsDir(dir).resolve(s".$name.tmp")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, refsDir(dir).resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Version a ref points at; throws if the ref or its manifest is gone. */
  def refVersion(dir: String, name: String): Long = {
    require(validRefName(name), s"bad ref name '$name'")
    val p = refsDir(dir).resolve(name)
    require(Files.exists(p), s"no ref '$name'")
    val v = Files.readString(p).trim.toLong
    require(Files.exists(manifestPath(dir, v)),
      s"ref '$name' points at expired version $v")
    v
  }

  /** [[read]] of [[refVersion]] — time travel by name. */
  def readRef(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, Some(refVersion(dir, name)))

  /** All refs as (name, version), name-sorted. Unreadable entries and
    * in-flight temp files are skipped.
    */
  def listRefs(dir: String): Seq[(String, Long)] = {
    val d = refsDir(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => validRefName(p.getFileName.toString))
        .flatMap { p =>
          scala.util.Try((p.getFileName.toString,
            Files.readString(p).trim.toLong)).toOption
        }
        .toSeq.sortBy(_._1)
    } finally s.close()
  }

  /** Remove a ref; true if it existed. */
  def dropRef(dir: String, name: String): Boolean = {
    require(validRefName(name), s"bad ref name '$name'")
    Files.deleteIfExists(refsDir(dir).resolve(name))
  }

  /** Data files on disk that NO retained manifest references — the
    * residue of torn commits (a crash between `writeData` and the
    * CURRENT swap leaves that commit's files unreferenced forever; the
    * commit protocol makes them invisible, this finds them). Iceberg's
    * `remove_orphan_files`. Walk cost is O(files on disk) metadata,
    * no file is opened.
    *
    * `graceMs`: only files older than this count — data files land
    * BEFORE their manifest, so an in-flight commit's files must never
    * look like orphans (Iceberg's `older_than` guard; default 1h).
    * Tests pass 0 to see freshly-planted orphans.
    */
  def orphanFiles(dir: String, graceMs: Long = 3600000L): Seq[Path] = {
    val dataDir = Paths.get(dir, "data")
    if (!Files.isDirectory(dataDir)) return Seq.empty
    val versions = listVersions(dir)
    val referenced = versions.flatMap(v => manifest(dir, v).files.map(f =>
      Paths.get(f.path.stripPrefix("file:")).toAbsolutePath.normalize)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val walk = Files.walk(dataDir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
        Files.getLastModifiedTime(p).toMillis <= cutoff)
      .map(_.toAbsolutePath.normalize)
      .filterNot(referenced)
      .toSeq
    finally walk.close()
  }

  /** Delete every orphan (see [[orphanFiles]]); returns the count.
    * A file referenced by ANY retained manifest — current, past, or a
    * written-but-not-yet-current version — is never touched (manifests
    * land before the pointer swap and all are read); files younger than
    * the grace window are never touched either (an in-flight commit's
    * data lands before its manifest).
    */
  def deleteOrphans(dir: String, graceMs: Long = 3600000L): Int =
    orphanFiles(dir, graceMs).count(Files.deleteIfExists)

  /** Delete manifests below `keepFromVersion` and every data file no
    * retained manifest references. Returns deleted file count. Refuses to
    * expire the current version's lineage head.
    */
  def expire(dir: String, keepFromVersion: Long): Int = {
    val cur = currentVersion(dir)
    require(keepFromVersion <= cur, s"cannot expire past current v$cur")
    val all = listVersions(dir).sorted
    val (drop, keep) = all.partition(_ < keepFromVersion)
    val referenced = keep.flatMap(v => manifest(dir, v).files.map(_.path)).toSet
    var deleted = 0
    drop.foreach { v =>
      manifest(dir, v).files.foreach { f =>
        val p = Paths.get(f.path.stripPrefix("file:"))
        if (!referenced(f.path) && Files.deleteIfExists(p)) deleted += 1
      }
      Files.delete(manifestPath(dir, v))
    }
    deleted
  }
}
