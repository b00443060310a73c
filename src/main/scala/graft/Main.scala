package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Doc
import graft.pipeline.{CheckpointStore, Pipeline, RunBook}
import graft.sources.CorpusReaders

/** spark-submit entry point: the reference's multi-step run book
  * (`preprocess_corpus.py --mode …` → `dudepparse.py` slices →
  * `main_ner.py` → `merge_parsed_results.py`) as ONE submitted job over
  * the checkpointed pipeline. Main parses the flags, resolves the alias
  * dictionary, sets up the session and runs the reader (with its excluded
  * sink); the run books it then calls — one-shot, fold, stream drain —
  * are [[graft.pipeline.RunBook]]'s. Usage:
  *
  *   spark-submit --class graft.Main graft.jar \
  *     --reader webhose|webhose-dir|clue|newsspike|docs-json|synth \
  *     --input <path>            (or --docs N with --reader synth) \
  *     --out <root>              checkpoint + output root \
  *     [--coref]                 include the coref second pass \
  *     [--mentions]              also materialize the mention table \
  *     [--aliases <path>]        alias dictionary (JSONL or parquet with
  *                               columns alias, entity_id, canonical);
  *                               defaults to the synthetic dict \
  *     [--toy-sample]            the merge step's deterministic ~1.2%
  *                               triple sample sink \
  *     [--nerpos]                the main_ner-shaped per-sentence
  *                               NER/POS ⋈ corefed-text table \
  *     [--export-jsonl]          canonical triples additionally as JSONL
  *                               (the reference's output wire format) \
  *     [--compact]               post-run small-file compaction of every
  *                               completed stage (resume-safe) \
  *     [--skew-report]           materialize the predicate-key skew
  *                               diagnostic (salt-factor tuning input) \
  *     [--incremental]           treat --out as an EXISTING run root and
  *                               FOLD the new input into it: doc-granular
  *                               append to triples/canonical, additive
  *                               pairpred merge, edge re-derivation —
  *                               never re-extracts history \
  *     [--docs-from N]           with --reader synth: generate the id
  *                               range [N, --docs) — explicit corpus
  *                               slices for the incremental path \
  *     [--stream-once]           with --reader docs-json: drain --input
  *                               as a Structured Streaming file source
  *                               (Trigger.AvailableNow) and maintain
  *                               pairpred_stream/edges_stream/
  *                               edge_weights_stream per micro-batch;
  *                               reruns resume from the checkpointed
  *                               source offsets
  *
  * Outputs under --out: docs/ sentences/ triples/ [coref_triples/]
  * canonical/ pairpred/ type_evidence/ edges/ edge_weights/
  * typed_edge_weights/ excluded/ [mentions/] stats.json — each stage a
  * fingerprinted checkpoint (a killed job resumes; changed inputs
  * invalidate). Under bare `sbt runMain` (no master configured) it
  * falls back to local[*]. */
object Main {

  private def parse(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case flag @ ("--coref" | "--mentions" | "--toy-sample" | "--nerpos" | "--export-jsonl" | "--compact" | "--skew-report" | "--incremental" | "--stream-once") =>
          m += flag.drop(2) -> "true"; i += 1
        case key if key.startsWith("--") && i + 1 < args.length =>
          m += key.drop(2) -> args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    m.toMap
  }

  /** schema-first alias-dictionary reader — columns (alias, entity_id,
    * canonical). Format detection goes through hadoop FS (the path may be
    * HDFS/object-store, where java.io.File would silently misroute a
    * parquet dict into the JSON reader): any `.parquet` file in the
    * listing, or a `.parquet` suffix, selects parquet; otherwise JSONL.
    * An EMPTY dictionary fails loudly — it always means a wrong path or
    * wrong column names, and running entity linking with zero aliases
    * would silently produce an unlinked graph.
    *
    * DUPLICATE alias surfaces (one surface → several entities is the norm
    * in real entity-link dictionaries) are resolved here to ONE row per
    * surface by the min (entity_id, canonical) rule — the SAME rule
    * `Mentions.detectJoin` applies — so `Pipeline.canonicalize`'s
    * left-joins stay row-preserving (a duplicated surface would otherwise
    * silently multiply every matching triple) and mention detection and
    * canonicalization agree on which entity a surface links to. */
  private def readAliases(spark: SparkSession, path: String): Dataset[graft.model.AliasRow] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min, struct}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("alias", StringType), StructField("entity_id", StringType),
      StructField("canonical", StringType)))
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isParquet = path.endsWith(".parquet") ||
      (fs.exists(hPath) && fs.getFileStatus(hPath).isDirectory &&
        fs.listStatus(hPath).exists(_.getPath.getName.endsWith(".parquet")))
    val df = if (isParquet) spark.read.schema(schema).parquet(path)
             else spark.read.schema(schema).json(path)
    val aliases = df.na.drop(Seq("alias", "entity_id"))
      .na.fill("", Seq("canonical"))
      // struct min = lexicographic (entity_id, canonical) — detectJoin's rule
      .groupBy(col("alias"))
      .agg(min(struct(col("entity_id"), col("canonical"))).as("m"))
      .select(col("alias"), col("m.entity_id").as("entity_id"),
              col("m.canonical").as("canonical"))
      .as[graft.model.AliasRow]
    require(!aliases.isEmpty,
      s"--aliases $path yielded an EMPTY dictionary — wrong path or wrong " +
        "column names (expected alias, entity_id, canonical)")
    aliases
  }

  /** order-independent content hash of the RESOLVED dictionary rows —
    * pinned (with the path) into every run fingerprint and the stream
    * config, so editing a dict file in place invalidates checkpoints and
    * refuses folds/stream resumes instead of silently mixing two entity
    * spaces into one maintained store. Sum of per-row xxhash64 is
    * order-independent (no sort, one tiny job on a broadcast-sized dict). */
  private def dictHash(aliases: Dataset[graft.model.AliasRow]): String = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    java.lang.Long.toHexString(
      aliases.select(sum(xxhash64(col("alias"), col("entity_id"), col("canonical"))))
        .head.getLong(0))
  }

  /** the flags each run book rejects (they would be silently dead there)
    * and what it maintains instead; the first run book `args` select is
    * the one checked. --compact IS allowed with a fold: the fold stamps
    * the stores with its own fingerprint, so post-fold compaction is the
    * folded root's ONLY small-file maintenance path (a one-shot --compact
    * would first recompute everything under its own fingerprint). */
  private val rejectedFlags: Seq[(String, String, Seq[String])] = {
    val oneShotOnly = Seq("coref", "mentions", "nerpos", "toy-sample", "export-jsonl", "skew-report")
    Seq(
      ("stream-once", "pairpred_stream/type_evidence_stream/edges_stream/" +
        "edge_weights_stream/edge_weights_typed_stream", "incremental" +: "compact" +: oneShotOnly),
      ("incremental", "the core docs/triples/canonical/pairpred/edges stores", oneShotOnly))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val reader = opts.getOrElse("reader",
      throw new IllegalArgumentException("--reader is required"))
    val outDir = opts.getOrElse("out",
      throw new IllegalArgumentException("--out is required"))
    def input = opts.getOrElse("input",
      throw new IllegalArgumentException(s"--input is required for --reader $reader"))
    // validate flag combinations BEFORE any work or side effect: a
    // rejected invocation must not have scanned the corpus or written
    // anything
    rejectedFlags.find { case (book, _, _) => opts.contains(book) }.foreach {
      case (book, maintains, rejects) =>
        val banned = rejects.filter(opts.contains)
        require(banned.isEmpty, s"--$book maintains $maintains only; " +
          s"${banned.map("--" + _).mkString(", ")} must run as separate jobs")
    }
    if (opts.contains("stream-once"))
      require(reader == "docs-json",
        "--stream-once streams the docs-json format (schema-first readStream)")

    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val builder = SparkSession.builder().appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions",
              sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    // under spark-submit the master comes from the launcher; bare runMain
    // (dev/sandbox) falls back to local[*]
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.ZhFunctions.register(spark)

    // resolve the alias dictionary ONCE, up front: its identity — path
    // PLUS content hash — is what every fingerprint and the stream config
    // pin. A dict file edited in place between runs then hashes
    // differently and is refused/invalidated instead of silently folding
    // a second entity space into a maintained store. (A read-only dict
    // job before validation is fine; the no-side-effect contract below is
    // about corpus scans and writes under --out.)
    val aliases = opts.get("aliases").map(readAliases(spark, _))
      .getOrElse(Pipeline.synthAliases(spark))
    val aliasSpec = opts.get("aliases")
      .map(p => s"$p@x${dictHash(aliases)}").getOrElse("synth")

    if (opts.contains("stream-once"))
      RunBook.streamOnce(spark, outDir, input, aliases, aliasSpec)
    else {
      val incremental = opts.contains("incremental")
      // root preconditions BEFORE the reader runs: a rejected --incremental
      // invocation (bad/coref root) must not have scanned the corpus or
      // written a single file under --out; a non-incremental run first
      // recovers from any crashed fold the root carries (the fold's own
      // repair path needs the marker, so recovery is one-shot-only here)
      if (incremental) Pipeline.validateFoldRoot(spark, outDir, Some(aliasSpec))
      else new CheckpointStore(outDir, spark).recoverFoldCrash()

      val (docs: Dataset[Doc], fingerprint: String, readerOut: Option[CorpusReaders.ReaderOutput]) =
        reader match {
          case "synth" =>
            val n = opts.getOrElse("docs", "1000").toLong
            // --docs-from gives the synth reader explicit id-range SLICES
            // (the incremental-fold test surface: overlapping re-submission)
            val from = opts.getOrElse("docs-from", "0").toLong
            val fp = s"reader=synth,docs=$n" + (if (from != 0) s",from=$from" else "")
            (Pipeline.synthDocsRange(spark, from, n), fp, None)
          case "docs-json" =>
            (Pipeline.readDocsJson(spark, input), s"reader=docs-json,input=$input", None)
          case kind =>
            val out = (kind match {
              case "webhose" => CorpusReaders.readWebhose(spark, input)
              case "webhose-dir" => CorpusReaders.readWebhoseDir(spark, input)
              case "clue" => CorpusReaders.readClue(spark, input)
              case "newsspike" => CorpusReaders.readNewsspike(spark, input)
              case other => throw new IllegalArgumentException(s"unknown --reader $other")
            }).cached() // docs + excluded sinks share one scan+segmentation
            val fp = s"reader=$kind,input=$input"
            // the excluded sink is a CHECKPOINTED stage too: a resumed run
            // must not pay a full corpus re-scan just to rewrite it (the
            // fingerprint deliberately omits aliases/coref — exclusion
            // doesn't depend on them). An INCREMENTAL fold must NOT touch
            // it: its fingerprint would mismatch the root's original run
            // and clobber the cumulative audit trail with slice-only rows —
            // slice exclusions land in a PER-SLICE subdir of their own side
            // table (overwrite keyed by the slice fingerprint → idempotent
            // under re-submission/retry; one job's files per slice, so no
            // unbounded small-file accumulation either). The fold root was
            // ALREADY validated up top — a rejected invocation never
            // reaches this scan/write.
            locally {
              import spark.implicits._
              if (incremental) {
                val sliceKey = java.security.MessageDigest.getInstance("MD5")
                  .digest(fp.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
                out.excluded.write.mode("overwrite")
                  .parquet(s"$outDir/excluded_incr/slice=$sliceKey")
              } else
                new CheckpointStore(outDir, spark, fingerprint = fp)
                  .runStage("excluded")(out.excluded)
            }
            (CorpusReaders.toDocs(out.docs), fp, Some(out))
        }

      // the pin is percent-encoded into the comma-separated fingerprint
      // (paths may contain ','); parsers decode via Pipeline.decodePin
      val fullFp = s"$fingerprint,aliases=${Pipeline.encodePin(aliasSpec)}"

      val release = () => readerOut.foreach(_.uncache())
      if (incremental)
        RunBook.fold(spark, outDir, docs, fullFp, aliases, opts.contains("compact"), release)
      else
        RunBook.oneShot(spark, outDir, docs, fingerprint, fullFp, aliases, opts.keySet, release)
    }
    // don't tear down a session we merely joined (embedding callers/tests)
    if (preexisting.isEmpty) spark.stop()
  }
}
