package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Doc
import graft.pipeline.{Mentions, Pipeline}
import graft.sources.CorpusReaders

/** spark-submit entry point: the reference's multi-step run book
  * (`preprocess_corpus.py --mode …` → `dudepparse.py` slices →
  * `main_ner.py` → `merge_parsed_results.py`) as ONE submitted job over
  * the checkpointed pipeline. Usage:
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
  * canonical/ edges/ edge_weights/ excluded/ [mentions/] stats.json —
  * each stage a
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

  /** per-list triple totals of a triples table. */
  private def relTotals(triples: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
    triples.groupBy("rel_list").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** the reference's merge-stage global stats file
    * (merge_parsed_results.py:60-74): docs, edges, per-list triple totals.
    * hadoop FS, not java.nio — --out may be an HDFS/object-store path. */
  private def writeStats(spark: SparkSession, outDir: String, nDocs: Long,
                         nEdges: Long, relTotals: Seq[(String, Long)]): Unit = {
    val totals = relTotals.sortBy(_._1).map { case (k, n) => s"""    "$k": $n""" }
    val stats =
      s"""{
         |  "docs": $nDocs,
         |  "edges": $nEdges,
         |  "rel_totals": {
         |${totals.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    val statsPath = new org.apache.hadoop.fs.Path(s"$outDir/stats.json")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(statsPath, true)
    os.write(stats.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    os.close()
  }

  /** stats.json after an incremental fold. docs and edges are the totals
    * the stores' commits recorded, as on the one-shot path. Rel totals are
    * ADDITIVE: the previous stats.json (machine-written by [[writeStats]])
    * plus the fold's delta, slice-sized instead of a full-store scan per
    * fold. They are recounted from the triples store when no prior
    * stats.json exists OR when the fold REPAIRED a crashed predecessor
    * (the crashed fold's rows are in the stores but were never captured by
    * any delta — incrementing would under-count them forever). */
  private def refreshStats(spark: SparkSession, outDir: String,
                           res: Pipeline.IncrementalResult): Unit = {
    val statsPath = new org.apache.hadoop.fs.Path(s"$outDir/stats.json")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new pipeline.CheckpointStore(outDir, spark)
    val totals =
      if (!fs.exists(statsPath) || res.repaired)
        relTotals(store.readData("triples"))
      else {
        val in = fs.open(statsPath)
        val old = try new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
        val oldTotals = scala.collection.mutable.Map.empty[String, Long]
        val it = old.get("rel_totals").fields()
        while (it.hasNext) {
          val e = it.next()
          oldTotals += e.getKey -> e.getValue.asLong()
        }
        res.deltaRelTotals.foreach { case (k, n) =>
          oldTotals += k -> (oldTotals.getOrElse(k, 0L) + n) }
        oldTotals.toSeq
      }
    writeStats(spark, outDir, store.rows("docs"), store.rows("edges"), totals)
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
    // rejected --incremental invocation must not have scanned the corpus
    // or written anything
    if (opts.contains("incremental")) {
      // --compact IS allowed with a fold: the fold stamps the maintained
      // stores with its own fingerprint, so post-fold compaction is the
      // folded root's ONLY small-file maintenance path (the one-shot
      // --compact would first recompute everything under its own
      // fingerprint). The rest stay one-shot-only.
      val banned = Seq("coref", "mentions", "nerpos", "toy-sample",
                       "export-jsonl", "skew-report").filter(opts.contains)
      require(banned.isEmpty,
        s"--incremental maintains the core docs/triples/canonical/pairpred/" +
          s"edges stores only; ${banned.map("--" + _).mkString(", ")} must " +
          "run as separate one-shot jobs")
    }

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

    if (opts.contains("stream-once")) {
      // STREAMING ingest run book: watch --input as a Structured
      // Streaming file source of docs JSONL, run the SAME narrow
      // extraction chain as a stream (unified batch/stream semantics),
      // canonicalize against the broadcast dict (stream-static join) and
      // maintain the pair-pred aggregate + edge table per micro-batch
      // through the idempotent fold bridge. Trigger.AvailableNow drains
      // what's there and terminates — rerunning after more files arrive
      // continues from the checkpointed source offsets, and the fold
      // marker makes replayed batches no-ops. A long-running deployment
      // drops the flag's trigger and lets the query run continuously.
      require(reader == "docs-json",
        "--stream-once streams the docs-json format (schema-first readStream)")
      // stream mode is ITS OWN run book — the one-shot flags would be
      // silently dead here, so reject them loudly (same contract as
      // --incremental's ban list)
      locally {
        val banned = Seq("incremental", "coref", "mentions", "nerpos",
          "toy-sample", "export-jsonl", "compact", "skew-report")
          .filter(opts.contains)
        require(banned.isEmpty,
          s"--stream-once maintains pairpred_stream/type_evidence_stream/" +
            s"edges_stream/edge_weights_stream/edge_weights_typed_stream " +
            s"only; " +
            s"${banned.map("--" + _).mkString(", ")} must run as separate jobs")
      }
      // the maintained stream aggregate is built under ONE dict: pin the
      // config next to it and refuse a resume under a different one — the
      // stream analogue of the batch path's fingerprint invalidation (a
      // changed dict would silently mix two entity spaces into the
      // aggregate). The pin is path + CONTENT hash: editing the dict file
      // in place between runs changes the hash and is refused too.
      locally {
        val cfgPath = new org.apache.hadoop.fs.Path(s"$outDir/pairpred_stream/_stream_config")
        val fsS = cfgPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val cfg = s"aliases=$aliasSpec"
        if (fsS.exists(cfgPath)) {
          val in = fsS.open(cfgPath)
          val prev = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          // one pin-comparison rule shared with the batch fold root
          // (Pipeline.aliasPinMatches): a pre-content-hash pin compares
          // by path and is MIGRATED to the hashed form on first match
          require(Pipeline.aliasPinMatches(
              prev.stripPrefix("aliases="), aliasSpec),
            s"--stream-once: $outDir was maintained under '$prev' but this " +
              s"run specifies '$cfg' — a changed dictionary cannot fold into " +
              "the same aggregate; use a fresh --out")
          if (prev != cfg) {
            val os = fsS.create(cfgPath, true)
            os.write(cfg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            os.close()
          }
        } else {
          val os = fsS.create(cfgPath, true)
          os.write(cfg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          os.close()
        }
      }
      import spark.implicits._
      val docsStream = spark.readStream.schema(Pipeline.docsJsonSchema)
        .json(input).as[Doc]
      // the docs-stream fold bridge: pair-pred AND type-evidence
      // aggregates maintained per micro-batch (same generation protocol,
      // same lineage), edges + weights + TYPED weights re-derived per
      // batch — a stream-fed store carries the full weight battery
      val q = graft.streaming.StreamingOps.maintainTypedEdges(
        docsStream, aliases,
        aggPath = s"$outDir/pairpred_stream",
        evidencePath = s"$outDir/type_evidence_stream",
        edgesPath = s"$outDir/edges_stream",
        weightsPath = s"$outDir/edge_weights_stream",
        typedWeightsPath = s"$outDir/edge_weights_typed_stream",
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        checkpointLocation = Some(s"$outDir/_stream_checkpoint"))
      q.awaitTermination()
      // a drain with NO new batches never enters foreachBatch — a store
      // maintained before the weight surfaces existed would end the run
      // with edges_stream but no edge_weights_stream (or no typed twin).
      // Backfill once from the committed aggregate generations so the
      // advertised layout holds after every drain, new data or not; when
      // a backfill input is MISSING, say so explicitly — the closing
      // message must never claim a surface that is not there.
      val fsS = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def present(p: String) =
        fsS.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      val ppGen = graft.streaming.StreamingOps
        .committedAggregate(spark, s"$outDir/pairpred_stream")
      // both backfills derive from ONE pinned cap of the generation, as
      // each micro-batch does (StreamingOps.writeEdgeSurfaces)
      lazy val capped = Pipeline.cappedCheckpointed(spark.read.parquet(ppGen.get))
      if (!present(s"$outDir/edge_weights_stream")) ppGen match {
        case Some(gen) =>
          Pipeline.edgeWeightsFromCapped(capped)
            .write.mode("overwrite").parquet(s"$outDir/edge_weights_stream")
          println(s"[graft] edge_weights_stream backfilled from $gen")
        case None => println(
          "[graft] WARNING: edge_weights_stream absent and no committed " +
            "pair-pred aggregate to backfill from (empty store) — " +
            "edge_weights_stream stays absent this drain")
      }
      if (!present(s"$outDir/edge_weights_typed_stream")) {
        val evGen = graft.streaming.StreamingOps
          .committedAggregate(spark, s"$outDir/type_evidence_stream")
        (ppGen, evGen) match {
          case (Some(pg), Some(eg)) =>
            Pipeline.typedFromCapped(capped,
                Pipeline.entityTypesFromEvidence(spark.read.parquet(eg)))
              .write.mode("overwrite")
              .parquet(s"$outDir/edge_weights_typed_stream")
            println(s"[graft] edge_weights_typed_stream backfilled from $pg + $eg")
          case _ => println(
            "[graft] WARNING: edge_weights_typed_stream absent and no " +
              "committed " +
              (if (ppGen.isEmpty) "pair-pred aggregate" else "type-evidence aggregate") +
              " to backfill from (a store maintained before the typed " +
              "surface existed has no captured mention evidence; it " +
              "gains the surface on its first mutating batch) — " +
              "edge_weights_typed_stream stays absent this drain")
        }
      }
      val maintained = Seq("edges_stream", "edge_weights_stream",
        "edge_weights_typed_stream").filter(s => present(s"$outDir/$s"))
      println(s"[graft] stream drained -> $outDir " +
        s"(${if (maintained.isEmpty) "no derived surfaces yet (empty store)"
            else maintained.mkString(" + ") + " maintained"})")
      if (preexisting.isEmpty) spark.stop()
      return
    }

    // root preconditions BEFORE the reader runs: a rejected --incremental
    // invocation (bad/coref root) must not have scanned the corpus or
    // written a single file under --out; a non-incremental run first
    // recovers from any crashed fold the root carries (the fold's own
    // repair path needs the marker, so recovery is one-shot-only here)
    if (opts.contains("incremental"))
      Pipeline.validateFoldRoot(spark, outDir, Some(aliasSpec))
    else new pipeline.CheckpointStore(outDir, spark).recoverFoldCrash()

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
            if (opts.contains("incremental")) {
              val sliceKey = java.security.MessageDigest.getInstance("MD5")
                .digest(fp.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
              out.excluded.write.mode("overwrite")
                .parquet(s"$outDir/excluded_incr/slice=$sliceKey")
            } else
              new pipeline.CheckpointStore(outDir, spark, fingerprint = fp)
                .runStage("excluded")(out.excluded)
          }
          (CorpusReaders.toDocs(out.docs), fp, Some(out))
      }

    // the pin is percent-encoded into the comma-separated fingerprint
    // (paths may contain ','); parsers decode via Pipeline.decodePin
    val fullFp = s"$fingerprint,aliases=${Pipeline.encodePin(aliasSpec)}"

    if (opts.contains("incremental")) {
      // fold the fresh slice into an EXISTING run root (doc-granular
      // append + additive pairpred merge + edge re-derivation) — the
      // run-book surface of kg_slice_merge / kg_edges_incr (flag
      // combinations already validated up top, before any side effect)
      // stats.json refresh is ADDITIVE (docs/rel totals are sums — same
      // definitions as the one-shot path, so fold == one-shot holds,
      // including zero-triple docs) and runs INSIDE the fold's crash
      // bracket via beforeCommit: a crash before the stats write leaves
      // the marker standing, so the next fold's repair rebuilds stats
      // from the stores instead of silently never catching up
      val res = Pipeline.incrementalFold(spark, outDir, docs,
        fingerprint = s"$fullFp,incremental", aliases = Some(aliases),
        beforeCommit = refreshStats(spark, outDir, _))
      readerOut.foreach(_.uncache())
      if (opts.contains("compact")) {
        // post-fold maintenance: exactly the stages THIS fold stamped
        // (docs/triples/canonical/edges) are complete under its
        // fingerprint — repeated folds' accumulated per-slice files are
        // rewritten without recompute, resume semantics intact
        val store = new pipeline.CheckpointStore(outDir, spark,
          fingerprint = s"$fullFp,incremental")
        store.completeStages.map(store.compact(_)).foreach(r => println(
          s"[graft] compacted ${r.stage}: ${r.filesBefore} -> ${r.filesAfter} files (${r.rowsAfter} rows)"))
      }
      println(s"[graft] incremental fold complete: ${res.newDocs} new docs -> $outDir (stats.json refreshed)")
      if (preexisting.isEmpty) spark.stop()
      return
    }

    val result = Pipeline.runFromDocs(spark, outDir, docs, fullFp,
      aliases = Some(aliases), withCoref = opts.contains("coref"))
    readerOut.foreach(_.uncache())
    val store = new pipeline.CheckpointStore(outDir, spark)

    if (opts.contains("mentions") || opts.contains("nerpos")) {
      // reuse the sentences THIS run just checkpointed instead of
      // re-segmenting the corpus once per extra sink (same fingerprint →
      // guaranteed in sync)
      val sentences = store.readData("sentences")
        .as[graft.model.SentenceRow](org.apache.spark.sql.Encoders.product[graft.model.SentenceRow])
      if (opts.contains("mentions")) {
        Mentions.detect(sentences, aliases)
          .write.mode("overwrite").parquet(s"$outDir/mentions")
      }
      if (opts.contains("nerpos")) {
        // main_ner.py's per-sentence output shape: NER/POS columns joined
        // with the corefed text of the same (doc, sentence)
        Pipeline.corefNerPosJoin(Pipeline.nerPosTable(sentences),
                                 Pipeline.corefedSentenceTable(result.docsOut))
          .write.mode("overwrite").parquet(s"$outDir/nerpos")
      }
    }
    if (opts.contains("export-jsonl")) {
      // the reference's output wire format (one JSON object per line)
      result.triples.write.mode("overwrite").json(s"$outDir/triples_jsonl")
    }
    if (opts.contains("toy-sample")) {
      // the merge step's reproducible sample sink (reference used a
      // wall-clock seed; the content-hash filter is deterministic)
      result.triples.filter(Pipeline.toySampleFilter)
        .write.mode("overwrite").parquet(s"$outDir/toy_sample")
    }

    // the reference's merge-stage global stats (merge_parsed_results.py:60-74)
    // docs and edges are the totals their stage commits recorded
    val nDocs = store.rows("docs")
    writeStats(spark, outDir, nDocs, store.rows("edges"), relTotals(result.triples))
    if (opts.contains("skew-report")) {
      // the pre-salting diagnostic over the edges shuffle key: run it
      // here, on the corpus you're about to build edges for, BEFORE
      // tuning entailmentEdges(saltBuckets=…) on a bigger one
      graft.ops.SkewOps.keySkew(result.triples, "pred")
        .write.mode("overwrite").parquet(s"$outDir/skew_report")
    }
    if (opts.contains("compact")) {
      // post-run maintenance: rewrite accumulated small files in place
      // (rewrite_data_files analogue; resume fingerprints survive)
      val reports = Pipeline.compactRun(spark, outDir, fullFp,
        withCoref = opts.contains("coref")) ++
        // the excluded sink checkpoints under the reader-only fingerprint
        Some(new pipeline.CheckpointStore(outDir, spark, fingerprint = fingerprint))
          .filter(_.isComplete("excluded")).map(_.compact("excluded"))
      reports.foreach(r => println(
        s"[graft] compacted ${r.stage}: ${r.filesBefore} -> ${r.filesAfter} files (${r.rowsAfter} rows)"))
    }
    println(s"[graft] pipeline complete: $nDocs docs -> $outDir (stats.json written)")
    // don't tear down a session we merely joined (embedding callers/tests)
    if (preexisting.isEmpty) spark.stop()
  }
}
