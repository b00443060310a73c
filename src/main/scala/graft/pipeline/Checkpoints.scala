package graft.pipeline

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Observation, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Stage checkpointing with per-partition lineage — the sandbox stand-in
  * for Iceberg snapshot-per-stage (no Iceberg jars ship with this image;
  * in production every `save` below is a `df.writeTo(table).append()`
  * against an Iceberg catalog and `valid` is a snapshot-existence check).
  *
  * Semantics: a stage whose checkpoint directory contains both Spark's
  * _SUCCESS marker and our _graft_meta.json WITH A MATCHING RUN
  * FINGERPRINT is complete — `runStage` reads it back instead of
  * recomputing, which is what makes a killed job resume without
  * recomputation (the reference achieves the same with its --ready_ddp
  * materialized-parse mode, dudepparse.py:1891-1899, and manual slice
  * files). The fingerprint encodes the run's input parameters; rerunning
  * against the same root with different parameters invalidates (and
  * recomputes) stale stages instead of silently returning them.
  */
final class CheckpointStore(root: String, spark: SparkSession,
                            fingerprint: String = "") {

  private def dataPath(stage: String) = s"$root/$stage"

  /** per-file lineage lives as a parquet SIDE TABLE (file, rows) under
    * `_lineage/<stage>` — NOT inside the stage dir (the data-file
    * listing would pick it up) and NOT in the meta json: at 100 TB a
    * stage has millions of part files, and a driver-side list (the
    * pre-r8 design collected per-file counts to build the json) becomes
    * the store's own scaling bottleneck. The meta json keeps only
    * bounded fields (fingerprint, total rows, upstream, schema); every lineage
    * comparison below is a Spark-side join, never an unbounded collect.
    * Iceberg analogue: the manifest files ARE tables. Legacy roots
    * (per-file lists still in the json) stay readable — first rewrite
    * migrates them. */
  private def lineagePath(stage: String) = s"$root/_lineage/$stage"

  private def lineageExists(stage: String): Boolean =
    fs.exists(new Path(lineagePath(stage), "_SUCCESS"))

  /** the recorded per-file lineage as a DataFrame (file, rows) — the
    * side table when present, else the legacy json list (bounded by
    * whatever an old root's meta holds). */
  private def lineageDF(stage: String): DataFrame =
    if (lineageExists(stage)) spark.read.parquet(lineagePath(stage))
    else {
      val legacy = metaFileRows(stage)
      if (legacy.isEmpty) emptyLineage
      else spark.createDataFrame(legacy).toDF("file", "rows")
    }

  private def hasRecordedLineage(stage: String): Boolean =
    lineageExists(stage) || metaFileRows(stage).nonEmpty

  /** rows per data file of a stage read. */
  private def perFile(data: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, element_at, input_file_name, lit, split}
    data.groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
      .agg(count(lit(1)).as("rows"))
  }

  private def emptyLineage: DataFrame = {
    import org.apache.spark.sql.functions.lit
    spark.range(0).select(lit("").as("file"), lit(0L).as("rows")).limit(0)
  }

  /** total rows of a lineage table — a one-row aggregate, the only
    * driver-side read the lineage design allows. */
  private def lineageTotal(df: DataFrame): Long = {
    import org.apache.spark.sql.functions._
    df.agg(coalesce(sum(col("rows")), lit(0L))).collect()(0).getLong(0)
  }

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** the stage's `_graft_meta.json`, parsed once (None when it has none). */
  private def readMeta(stage: String): Option[JsonNode] = {
    val p = new Path(dataPath(stage), "_graft_meta.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(CheckpointStore.mapper.readTree(in)) finally in.close()
    }
  }

  private def metaField(stage: String, field: String): Option[JsonNode] =
    readMeta(stage).flatMap(m => Option(m.get(field)))

  /** the schema the stage was written with, `_bucket` included (None for
    * a meta written before schemas were recorded, or no meta). */
  private def recordedSchema(stage: String): Option[StructType] =
    metaField(stage, "schema").map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])

  /** a crashed incremental fold ([[graft.pipeline.RunBook.incrementalFold]])
    * leaves this marker at the root; while it exists the stores may be
    * mutually inconsistent (e.g. triples holding a slice canonical lacks),
    * so NO stage under this root may be treated as complete — a one-shot
    * resume would otherwise silently reuse half-mutated data. The fold
    * itself repairs forward; [[RunBook.runFromDocs]] invalidates and
    * recomputes. */
  def foldInFlight: Boolean = fs.exists(new Path(root, "_fold_inflight"))

  /** One-shot-path recovery from a crashed fold: wipe every stage's
    * completion meta (forces full recompute — the `pairpred` and
    * `type_evidence` aggregates included, so the rerun overwrites them
    * with the rest), clear the marker. Lives HERE because the meta
    * filename and layout are this store's implementation details — a
    * caller hand-deleting `_graft_meta.json` would silently stop working
    * if the name ever changed, turning the wipe into stale-data resume.
    * Returns whether a recovery actually ran. (The INCREMENTAL path must
    * NOT call this — its repair uses the standing marker.) */
  def recoverFoldCrash(): Boolean =
    foldInFlight && {
      fs.listStatus(new Path(root)).filter(_.isDirectory).foreach { d =>
        fs.delete(new Path(d.getPath, "_graft_meta.json"), false)
      }
      fs.delete(new Path(root, "_fold_inflight"), false)
      true
    }

  /** Delete data files a crashed append left UNRECORDED in the stage's
    * lineage meta (Iceberg's orphan-file semantics: files no snapshot
    * references are invisible and cleaned). A mid-job-commit crash can
    * expose a SUBSET of an append's files — a doc's rows split across
    * files would then be partially present, which doc-granular repair
    * cannot see; pruning back to the last recorded-consistent state
    * first makes the doc-level reconcile sound. No-op (returns Nil) when
    * the stage has no recorded file list to prune against. */
  def pruneUnrecorded(stage: String): Seq[String] = {
    // the meta json is the anchor tying the recorded lineage to the
    // stage's CURRENT content: lineage-without-meta is a mid-protocol
    // state (e.g. a compact crashed after the swap, before
    // markComplete) where the lineage may describe files that no longer
    // exist — pruning against it would delete valid data. Refuse.
    if (!hasRecordedLineage(stage) || readMeta(stage).isEmpty) Nil
    else {
      import org.apache.spark.sql.functions.col
      val listed = listDataFiles(stage)
      if (listed.isEmpty) Nil
      else {
        // lineage rows are built by grouping DATA rows on
        // input_file_name, so zero-row part files are never recorded —
        // a legitimately EMPTY stage has an empty lineage table, and
        // pruning against it would delete every (empty) part file,
        // leaving a _SUCCESS+meta dir with no parquet to infer a schema
        // from. Zero recorded files ⇒ nothing sound to prune against.
        val lineage = lineageDF(stage).select(col("file"))
        if (lineage.isEmpty) return Nil
        // Spark-side anti-join against the lineage table; only the
        // UNRECORDED names come back to the driver (bounded by one
        // crashed append's files — normally empty), which the driver
        // must hold anyway to issue the deletes
        val listedDF = spark.createDataFrame(
          listed.map(p => Tuple1(p.getName))).toDF("file")
        val unrecorded = listedDF
          .join(lineage, Seq("file"), "left_anti")
          .collect().map(_.getString(0)).toSet
        listed.filter(p => unrecorded(p.getName)).map { p =>
          fs.delete(p, false)
          p.getName
        }
      }
    }
  }

  /** the run fingerprint recorded in a stage's meta sidecar (None when
    * the stage has no meta) — lets preflight checks compare provenance
    * segments (e.g. the `aliases=` dictionary pin) without depending on
    * the meta layout. */
  def stageFingerprint(stage: String): Option[String] =
    metaField(stage, "fingerprint").map(_.asText)

  /** complete: `_SUCCESS` plus a meta carrying this run's fingerprint. A
    * meta that records no schema (an older root) also needs a data file
    * to infer one from, so an older EMPTY stage is recomputed. */
  def isComplete(stage: String): Boolean =
    !foldInFlight &&
      fs.exists(new Path(dataPath(stage), "_SUCCESS")) &&
      stageFingerprint(stage).exists(stored =>
        stored == fingerprint ||
          // pin-encoding migration: the aliases= segment is the one
          // fingerprint component whose LITERAL form changed across
          // versions (raw → always-marked → marked-only-when-needed);
          // compare it decoded so an equivalent root keeps resuming —
          // see Pipeline.normalizeFingerprint for why this is safe
          Pipeline.normalizeFingerprint(stored) ==
            Pipeline.normalizeFingerprint(fingerprint)) &&
      (metaField(stage, "schema").isDefined || listDataFiles(stage).nonEmpty)

  /** every stage under this root that is COMPLETE under THIS store's
    * fingerprint — the maintenance-pass work list (derived, never
    * hardcoded: a stage added to the pipeline can't silently escape
    * compaction). */
  def completeStages: Seq[String] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.endsWith("._compacting"))
      .filterNot(_ == "_lineage") // the lineage side tables, not a stage
      .filter(isComplete).sorted.toSeq
  }

  /** run (or resume) a stage; the dataset is persisted as parquet with a
    * meta sidecar carrying row count, the upstream stage names, the run
    * fingerprint and the written schema, plus its per-file lineage side
    * table. `bucketCol` adds an explicit hash-bucket directory layout
    * (`_bucket=pmod(xxhash64(col), nBuckets)`) — the plain-parquet
    * analogue of Iceberg's `bucket(N, col)` partition transform:
    * co-locates rows by key and prunes on bucket predicates. A resume
    * reads the stage under its recorded schema and never builds
    * `compute`. */
  def runStage[T](stage: String, upstream: Seq[String] = Nil,
                  bucketCol: Option[String] = None, nBuckets: Int = 64)
                 (compute: => Dataset[T])(implicit enc: Encoder[T]): Dataset[T] =
    run(stage, upstream, bucketCol, nBuckets)(compute.toDF()).as[T]

  /** the DataFrame (dynamic-schema) variant of [[runStage]], same
    * completeness/resume/bucketing semantics. */
  def runStageDF(stage: String, upstream: Seq[String] = Nil,
                 bucketCol: Option[String] = None, nBuckets: Int = 64)
                (compute: => DataFrame): DataFrame =
    run(stage, upstream, bucketCol, nBuckets)(compute)

  /** the one body of both run methods: resume reads the complete stage;
    * a fresh stage is written, then committed from ONE read-back that is
    * also the returned DataFrame. The `_bucket` column is dropped. */
  private def run(stage: String, upstream: Seq[String],
                  bucketCol: Option[String], nBuckets: Int)
                 (compute: => DataFrame): DataFrame =
    if (isComplete(stage)) readData(stage)
    else {
      val df = compute
      writeStage(df, stage, bucketCol, nBuckets)
      markComplete(stage, upstream, Some(withBucket(df.schema, bucketCol))).drop("_bucket")
    }

  /** the on-disk schema of a stage written from `schema`. */
  private def withBucket(schema: StructType, bucketCol: Option[String]): StructType =
    if (bucketCol.isDefined) schema.add("_bucket", LongType) else schema

  /** the ONE writer for stage data: plain parquet, or the explicit
    * hash-bucket directory layout when `bucketCol` is set. */
  private def writeStage(df: DataFrame, stage: String,
                         bucketCol: Option[String], nBuckets: Int): Unit =
    writeStageMode(df, stage, bucketCol, nBuckets, "overwrite")

  /** `clustered = false` (one-shot stage writes): fanout write — no
    * shuffle, each task writes into every bucket dir it touches
    * (tasks × buckets files; `compact()` is the maintenance answer).
    * `clustered = true` (incremental APPENDS): one slice-sized shuffle on
    * the bucket key first, so each fold adds ≈ nBuckets files instead of
    * tasks × nBuckets — repeated folds would otherwise grow the file
    * count (and every subsequent fold's read/meta cost) unboundedly. */
  private def writeStageMode(df: DataFrame, stage: String,
                             bucketCol: Option[String], nBuckets: Int,
                             saveMode: String, clustered: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    bucketCol match {
      case Some(c) =>
        val withB = df.withColumn("_bucket", pmod(xxhash64(col(c)), lit(nBuckets.toLong)))
        (if (clustered) withB.repartition(col("_bucket")) else withB)
          .write.mode(saveMode).partitionBy("_bucket").parquet(dataPath(stage))
      case None =>
        df.write.mode(saveMode).parquet(dataPath(stage))
    }
  }

  /** APPEND rows into an existing bucketed stage — the incremental-
    * maintenance write (Iceberg analogue: `writeTo(table).append()`).
    * New files land in the same `_bucket=` directory layout, so bucket
    * pruning and co-located reads keep working; the meta sidecar is
    * re-derived afterwards (per-file lineage over old + new files) and
    * stamped with THIS store's fingerprint — an incremental fold changes
    * what the stage contains, so the previous run's fingerprint must not
    * keep claiming it (a later rerun of the original one-shot command
    * sees the mismatch and recomputes rather than silently reusing the
    * folded store). Caller guarantees appended rows are disjoint from
    * the stage's contents (doc-granular anti-join upstream).
    *
    * COST CONTRACT: the meta refresh is SLICE-SIZED, not store-sized —
    * the NEW files are read once, under the written schema, and their
    * per-file lineage is appended to the side table with its row total
    * observed on that one write ([[writeLineage]]); the meta
    * total is the lineage table's previous total plus that delta. The
    * history files are never rescanned. (If the recorded lineage misses
    * a pre-append file — a crashed append, a hand-edited root — it falls
    * back to one full markComplete rescan rather than recording wrong
    * lineage.)
    *
    * SCHEMA: the appended columns (with `_bucket`) must match the
    * recorded schema by name and type — nullability and column order
    * aside — or the append fails before any file is written. */
  def appendStage(df: DataFrame, stage: String,
                  upstream: Seq[String] = Nil,
                  bucketCol: Option[String] = None, nBuckets: Int = 64): Unit = {
    require(fs.exists(new Path(dataPath(stage), "_SUCCESS")),
      s"appendStage($stage): no existing completed stage at ${dataPath(stage)}")
    val recorded = recordedSchema(stage)
    val appended = withBucket(df.schema, bucketCol)
    def columns(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    recorded.foreach(r => require(columns(r) == columns(appended),
      s"appendStage($stage): appended schema ${appended.catalogString} " +
        s"does not match the recorded ${r.catalogString}"))
    import org.apache.spark.sql.functions.col
    val beforeFiles = listDataFiles(stage)
    val before = beforeFiles.map(_.getName).toSet
    // STALE lineage = pre-append data files the recorded lineage doesn't
    // know (a previous append committed its files but died before its
    // lineage write) — merging would under-count forever and wedge a
    // later compact()'s row verification. Detected Spark-side (listing
    // anti-join lineage, one count — never a per-file collect).
    val stale = !hasRecordedLineage(stage) || {
      beforeFiles.nonEmpty && {
        val beforeDF = spark.createDataFrame(
          beforeFiles.map(p => Tuple1(p.getName))).toDF("file")
        !beforeDF.join(lineageDF(stage).select(col("file")),
          Seq("file"), "left_anti").isEmpty
      }
    }
    writeStageMode(df, stage, bucketCol, nBuckets, "append", clustered = true)
    if (stale && before.nonEmpty) {
      // fall back to one full self-healing rescan
      markComplete(stage, upstream, recorded)
    } else {
      // previous total from the lineage table, NOT the meta json: a
      // crash between a lineage append and the meta rewrite leaves the
      // json total stale-low — preferring it here would bake the
      // under-count into every subsequent append (the compact verifier
      // already names the lineage table the source of truth). Evaluated
      // BEFORE the new files' lineage lands in the table.
      val prevTotal = lineageTotal(lineageDF(stage))
      if (!lineageExists(stage)) // legacy root: migrate the json list once
        lineageDF(stage).write.mode("overwrite").parquet(lineagePath(stage))
      // SLICE-SIZED lineage refresh over the NEW files only. An empty
      // append adds no file and no lineage — and starts no observed
      // write: an empty plan may run no job, so its observation would
      // never arrive
      val newFiles = listDataFiles(stage).filterNot(p => before(p.getName))
      val freshTotal =
        if (newFiles.isEmpty) 0L
        else writeLineage(stage, "append",
          spark.read.schema(df.schema).parquet(newFiles.map(_.toString): _*))
      writeMeta(stage, upstream, prevTotal + freshTotal, recorded)
    }
  }

  /** the stage as stored, `_bucket` included: read under its recorded
    * schema, so an EMPTY partitioned stage (zero part files) reads as
    * empty and no inference job runs; by inference when the meta
    * records none. */
  private def readStored(stage: String): DataFrame = read(stage, recordedSchema(stage))

  private def read(stage: String, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(dataPath(stage))

  /** a stage's data under its recorded schema, `_bucket` dropped — the
    * one read path for consumers outside runStage (a resume, the
    * incremental fold's history reads, Main's stats and sinks). */
  def readData(stage: String): DataFrame = readStored(stage).drop("_bucket")

  /** commit a stage whose data files are in place: ONE read under
    * `schema` (inference when None), from which the per-file lineage is
    * written, then the meta json recording `schema`. Lineage commits
    * BEFORE the meta — the meta's fingerprint is what marks the stage
    * complete, so a crash between the two leaves an incomplete stage,
    * never a complete stage with missing lineage. Returns the read, so a
    * fresh stage's caller consumes it instead of re-reading the stage. */
  private def markComplete(stage: String, upstream: Seq[String],
                           schema: Option[StructType]): DataFrame = {
    val back = read(stage, schema)
    writeMeta(stage, upstream, writeLineage(stage, "overwrite", back), schema)
    back
  }

  /** write (or append) `data`'s per-file lineage to the side table and
    * return its row total, an `Observation` on that write — neither the
    * data nor the side table is read again for it. The write must start
    * a job, or the observation never arrives: a stage read-back does,
    * empty or not; a read of an empty file list may not. */
  private def writeLineage(stage: String, mode: String, data: DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    val total = Observation()
    perFile(data).observe(total, coalesce(sum(col("rows")), lit(0L)).as("rows"))
      .write.mode(mode).parquet(lineagePath(stage))
    total.get("rows").asInstanceOf[Long]
  }

  /** the meta json: stage, snapshot_id, fingerprint, rows and upstream,
    * then the written schema when known. */
  private def writeMeta(stage: String, upstream: Seq[String],
                        totalRows: Long, schema: Option[StructType]): Unit = {
    val mapper = CheckpointStore.mapper
    val meta = mapper.createObjectNode()
      .put("stage", stage).put("snapshot_id", System.currentTimeMillis())
      .put("fingerprint", fingerprint).put("rows", totalRows)
    val up = meta.putArray("upstream")
    upstream.foreach(u => up.add(u))
    schema.foreach(s => meta.set[JsonNode]("schema", mapper.readTree(s.json)))
    val out = fs.create(new Path(dataPath(stage), "_graft_meta.json"), true)
    try out.write(mapper.writeValueAsBytes(meta)) finally out.close()
  }

  /** the total row count recorded in a stage's meta json (None when the
    * stage has no meta, or a hand-written one without a count). */
  private def recordedRows(stage: String): Option[Long] =
    metaField(stage, "rows").filter(_.isIntegralNumber).map(_.asLong)

  /** the stage's row total: the count its commit recorded, else (a meta
    * without one) a count of its data — 0 when it has no data file (an
    * EMPTY partitioned stage, or no stage at all). */
  def rows(stage: String): Long =
    recordedRows(stage).getOrElse(
      if (listDataFiles(stage).isEmpty) 0L else readStored(stage).count())

  /** LEGACY per-file lineage from the meta json (pre-r8 layout kept the
    * list inline) — migration read only; new roots keep lineage in the
    * side table. */
  private def metaFileRows(stage: String): Seq[(String, Long)] =
    metaField(stage, "files").toSeq.flatMap(_.elements().asScala
      .map(f => (f.get("file").asText, f.get("rows").asLong)))

  private def listDataFiles(stage: String): Seq[Path] = {
    val dir = new Path(dataPath(stage))
    if (!fs.exists(dir)) Nil
    else {
      val it = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) buf += p
      }
      buf.toSeq
    }
  }

  /** Rewrite a completed stage's data files into files of at most 2^20
    * rows — the plain-parquet analogue of Iceberg's rewrite_data_files
    * maintenance action. A 10^12-doc checkpointed run accumulates small
    * files (per-slice sinks, skewed buckets, streaming micro-batches);
    * compaction restores scan efficiency without recomputing the stage.
    *
    * Layout is preserved: a `_bucket=`-partitioned stage is rewritten
    * bucket-aligned (repartition on `_bucket`, so pruning keeps working);
    * an unbucketed stage is rewritten to ceil(rows / 2^20) files. The
    * rewrite's row COUNT is verified against the stage's
    * recorded lineage (`"rows"` in `_graft_meta.json` — no pre-scan of a
    * TB-scale stage just to recount it) BEFORE the swap — on any failure
    * the original files stay untouched. The swap itself is
    * delete-then-rename with the lineage meta rewritten last, so a crash
    * mid-swap leaves the stage INCOMPLETE (recomputed on next run) rather
    * than silently half-compacted; in production this whole method is one
    * atomic Iceberg snapshot commit. Fingerprint and upstream lineage
    * carry through; only file lineage and snapshot id change. */
  def compact(stage: String): CompactionReport = {
    require(isComplete(stage), s"compact($stage): stage is not complete")
    val before = listDataFiles(stage)
    if (before.isEmpty) return CompactionReport(stage, 0L, 0L, 0, 0)
    val schema = recordedSchema(stage)
    val df = read(stage, schema)
    val bucketed = df.columns.contains("_bucket")
    // expected rows come from the recorded lineage TABLE when present
    // (the source of truth — a crash between a lineage append and the
    // meta rewrite leaves the json total stale), else the json total,
    // else a scan (hand-written meta only)
    val rows =
      if (lineageExists(stage)) lineageTotal(lineageDF(stage))
      else recordedRows(stage).getOrElse(df.count())
    val upstream = metaField(stage, "upstream").toSeq.flatMap(_.elements().asScala.map(_.asText))
    val tmp = new Path(root, s"$stage._compacting")
    fs.delete(tmp, true)
    val perFile = 1L << 20 // rows per rewritten file
    import org.apache.spark.sql.functions.col
    if (bucketed)
      df.repartition(col("_bucket"))
        .write.option("maxRecordsPerFile", perFile)
        .mode("overwrite").partitionBy("_bucket").parquet(tmp.toString)
    else {
      val nFiles = math.max(1L, (rows + perFile - 1) / perFile).toInt
      df.repartition(nFiles)
        .write.option("maxRecordsPerFile", perFile)
        .mode("overwrite").parquet(tmp.toString)
    }
    val rowsAfter = spark.read.parquet(tmp.toString).count()
    require(rowsAfter == rows,
      s"compact($stage): rewrite produced $rowsAfter rows, expected $rows — " +
        "original files left untouched")
    val dst = new Path(dataPath(stage))
    fs.delete(dst, true)
    // the lineage SIDE TABLE must die with the stage it describes: the
    // pre-r8 inline lineage lived in the meta json and vanished with the
    // dst delete above, which is exactly what made a crashed compact
    // safe — no recorded lineage, so pruneUnrecorded no-ops and the
    // incomplete stage recomputes. A surviving side table would instead
    // list the PRE-compact file names, and a later fold repair's
    // pruneUnrecorded anti-join would delete every valid compacted file.
    fs.delete(new Path(lineagePath(stage)), true)
    // a false return (HDFS-style silent failure) must not masquerade as
    // success — the stage is already gone, so fail loudly; the store's
    // completeness check then forces a recompute on the next run
    require(fs.rename(tmp, dst),
      s"compact($stage): rename $tmp -> $dst failed; stage left incomplete " +
        "(will recompute on next run)")
    markComplete(stage, upstream, schema)
    CompactionReport(stage, rows, rowsAfter, before.size, listDataFiles(stage).size)
  }
}

object CheckpointStore {
  private val mapper = new ObjectMapper()
}

final case class CompactionReport(stage: String, rowsBefore: Long, rowsAfter: Long,
                                  filesBefore: Int, filesAfter: Int)
