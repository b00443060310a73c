package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Deduplication operators for a training-data pipeline, Spark-first:
  * exact (hash group), n-gram Jaccard (inverted-index bucket grouping, NOT
  * pairwise scan), MinHash+LSH (band-bucket join), SimHash, winnowing
  * fingerprint, embedding-cosine near-dup. All deterministic; every hash is
  * an md5-derived PortableHash value so the driver's DuckDB oracle can
  * recompute each operator exactly (no engine-private hash functions).
  *
  * Scale notes (100 TB): every candidate-pair generator here is
  * blocking-based — pairs are only formed within a bucket (shared n-gram,
  * LSH band bucket, simhash block), never by cross join. Bucket blowup is
  * capped deterministically (`maxBucketSize`) the same way the reference
  * caps its per-sentence combinatorics (dudepparse.py:16-38). Pair
  * emission is a LOCAL flatMap over each grouped bucket (one shuffle),
  * never a self-join that would re-evaluate the hashing subtree per side.
  */
object DedupOps {

  /** THE dedup fingerprint of a document text — one definition shared by
    * the batch pass and the streaming pass (the streaming op's bounded
    * watermark state relies on the downstream batch pass catching
    * re-admitted duplicates, which only holds while both key on the SAME
    * fingerprint). */
  def textFp: Column = md5(col("text"))

  /** exact dedup: one row per distinct text with keeper id + group size.
    * r9: behind the under-partitioned-scan guard like every other
    * hash-heavy op here — a tiny single-file scan is ONE split, so the
    * whole-corpus md5 ran as a single task (the round-8 driver bench
    * showed exactly this signature: dedup_exact 13× its builder-box
    * relative cost while every sibling op agreed). */
  def exact(documents: DataFrame): DataFrame =
    parallelized(documents).groupBy(textFp.as("text_fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** under-partitioned-scan guard for the shingle/hash-heavy ops: when the
    * input scan yields fewer partitions than cores (tiny local files — a
    * single small parquet is ONE split, so the whole hash grind would run
    * on one core), repartition up front. At production scale the scan
    * already yields >= parallelism splits and this is a no-op (no exchange
    * added); it never changes results.
    *
    * The probe is PLAN-SIDE: the split count is estimated from the file
    * leaves' listings with Spark's own `FilePartition.maxSplitBytes`
    * arithmetic (openCost floor, maxPartitionBytes cap, minPartitionNum
    * target). The previous probe went through `documents.rdd`, which
    * forces full physical planning + deserializer generation at plan-BUILD
    * time on every call — a fixed ~0.5 s tax per op that this estimate
    * avoids entirely. Non-file inputs (in-memory test frames) are already
    * parallelism-partitioned and pass through untouched. */
  private[graft] def parallelized(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val leaves = documents.queryExecution.analyzed.collectLeaves()
    val fileLeaves = leaves.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
    }
    // RDD-backed leaves (checkpointed frames, createDataFrame over an
    // RDD) carry a MATERIALIZED partitioning the listing can't see — for
    // those the direct partition count is the truth and cheap to read
    // (the RDD already exists; no file estimate applies). LocalRelation
    // (in-memory literals) parallelizes at scan time and passes through.
    val rddLeaves = leaves.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getNumPartitions
      case r: org.apache.spark.sql.execution.ExternalRDD[_] => r.rdd.getNumPartitions
    }
    if (fileLeaves.isEmpty && rddLeaves.nonEmpty && rddLeaves.min < par)
      documents.repartition(par)
    else if (fileLeaves.isEmpty) documents
    else {
      val conf = spark.sessionState.conf
      val openCost = conf.filesOpenCostInBytes
      val minPartNum = conf.filesMinPartitionNum.getOrElse(par)
      val totalBytes = fileLeaves.map(r =>
        r.location.sizeInBytes + r.location.inputFiles.length * openCost).sum
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, totalBytes / math.max(1, minPartNum)))
      val estSplits = math.ceil(totalBytes.toDouble / math.max(1L, maxSplit)).toLong
      if (estSplits < par) documents.repartition(par) else documents
    }
  }

  /** word n-grams of one text column as a distinct array (Catalyst only). */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
                  i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** the shipped dedup_ngram shingle width / bucket cap: the defaults of
    * [[ngramJaccardPairs]], and what the `dedup_ngram` query passes. */
  val NgramN = 3
  val NgramMaxBucket = 200

  /** JVM distinct-gram core (r9, guide §1.2 "per-task work"): the round-7
    * stage-split profile showed the tokenize → distinct-gram → explode →
    * md5 SCAN is 74% of dedup_ngram — almost all of it Catalyst string
    * churn (per-gram `concat_ws` UTF8String materialization + an
    * `array_distinct` equality scan + expression dispatch). This builds
    * the same DISTINCT gram set in one tight JVM pass per row:
    * `split(" ", -1)`, n-token windows via one StringBuilder, first-
    * occurrence hash-set distinct. Value-identical to [[wordNgrams]] as a
    * SET (OpsSpec's hash-vs-string-key equality test rides one path
    * through here and one through the Catalyst form): a <n-token text
    * yields the whole text as its one gram, a null text the empty gram
    * (concat_ws over a null array), exactly as the column form does. */
  private[graft] def distinctGramsJvm(text: String, n: Int): java.util.LinkedHashSet[String] = {
    val set = new java.util.LinkedHashSet[String]()
    if (text == null) { set.add(""); return set }
    val toks = text.split(" ", -1)
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        set.add(sb.toString)
        i += 1
      }
    } else set.add(toks.mkString(" "))
    set
  }

  /** the full MinHash band derivation over a SIDE-TAGGED doc table
    * (inc: Boolean, doc_id: Long, text) — the side rides every group
    * key, so two corpora can be banded in ONE pass without colliding
    * doc_ids ever merging ([[crossVerify]] fuses its two band passes
    * through this; [[minhashBands]] is the constant-tag instantiation).
    * Gram scan via the JVM core (one md5 digest per distinct gram), the
    * k family hashes as multiply-adds over the shared base. */
  private def bandsTagged(tagged: DataFrame, shingleN: Int,
                          bands: Int, rowsPerBand: Int): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val grams = tagged.as[(Boolean, Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (inc, id, text) =>
          val it = distinctGramsJvm(text, shingleN).iterator()
          new Iterator[(Boolean, Long, Long)] {
            def hasNext: Boolean = it.hasNext
            def next(): (Boolean, Long, Long) = (inc, id, PortableHash.md5Long48Jvm(it.next()))
          }
        }
      }.toDF("inc", "doc_id", "base")
    val sigCols = (0 until bands * rowsPerBand)
      .map(i => min(PortableHash.familyHashLongOverBase(i, col("base"))).as(s"h$i"))
    val sigs = grams.groupBy(col("inc"), col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    // one aggregation, then a narrow explode into (band, bucket) rows —
    // NOT a per-band union (which would re-shuffle the aggregation once
    // per band)
    val bandStructs = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", rows: _*)).as("bucket"))
    }
    sigs.select(col("inc"), col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("inc"), col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** (inc, doc_id, text) with the under-partitioned-scan guard — the
    * input shape of [[bandsTagged]]. */
  private def taggedDocs(documents: DataFrame, inc: Boolean): DataFrame =
    parallelized(documents)
      .select(lit(inc).as("inc"), col("doc_id").cast("long"), col("text"))

  /** the side-tagged union of two corpora with ONE repartition guard over
    * the whole union (r9): guarding each side separately doubles the map
    * tasks of every downstream stage (2 × parallelism). */
  private def taggedUnion(incoming: DataFrame, seen: DataFrame): DataFrame =
    parallelized(
      incoming.select(lit(true).as("inc"), col("doc_id").cast("long"), col("text"))
        .unionByName(
          seen.select(lit(false).as("inc"), col("doc_id").cast("long"), col("text"))))

  /** n-gram Jaccard near-dup candidate pairs via inverted index:
    * explode distinct n-grams → group by the gram's 48-bit PortableHash
    * (bucket) → LOCAL pairwise emission per bucket → count shared per
    * pair → Jaccard = shared / (|A|+|B|-shared). Returns pairs with
    * jaccard_x1000 ≥ threshold, a < b. Buckets over `maxBucketSize` docs
    * are dropped (stopword-like shingles carry no signal and create
    * quadratic blowup — deterministic skew guard).
    *
    * The DEFAULT shuffle key is the HASH, not the gram string: the
    * exploded gram table is the engine's largest dedup intermediate at
    * 100 TB, and an 8-byte fixed-width key shrinks its shuffle bytes
    * ~4-7× vs 30-60-byte UTF-8 shingles (and keeps the aggregation in
    * HashAggregate). The choice is a PARAMETER (`hashShuffleKey`) so the
    * tradeoff stays re-measurable: interleaved A/B at sf0.1 local[32]
    * min-of-3 gave string 2.32 s vs hash 2.52 s (~8%), and the 10× sf1
    * rehearsal (tools/ScaleRehearsal, BENCH.md) re-measured at 50k docs:
    * string 4.21 s vs hash 5.42 s (~22% — the md5-per-gram-instance cost
    * grows with the exploded table while localhost "shuffle" stays
    * in-memory). Locally the string key wins; on a real cluster the
    * 4-7× saved NETWORK bytes dominate, which is the regime this op
    * targets — that is what the hash default buys. The
    * Jaccard DENOMINATOR stays exact (distinct-string gram counts,
    * computed before hashing); only `shared` rides hashed buckets, where
    * a 48-bit collision perturbs one count with probability ~2^-48 per
    * gram pair — far below the op's own candidate-filter semantics. The
    * same-doc guard below drops the degenerate pair a collision inside
    * one doc could otherwise emit.
    *
    * Plan: 2 shuffles (gram group, pair group), no sort, no self-join —
    * the gram bucket-size cap rides the same aggregation that emits the
    * pairs instead of a window (count-over-partition would sort the fully
    * exploded gram table). */
  def ngramJaccardPairs(documents: DataFrame, n: Int = NgramN,
                        thresholdX1000: Int = 500,
                        maxBucketSize: Int = NgramMaxBucket,
                        hashShuffleKey: Boolean = true): DataFrame = {
    val pairs = ngramPairEmission(
      ngramBuckets(ngramGramTable(documents, n, hashShuffleKey), maxBucketSize))
    pairs
      .groupBy(col("a"), col("b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard_x1000",
        ((lit(1000L) * col("shared")) / (col("n_a") + col("n_b") - col("shared"))).cast("long"))
      .filter(col("jaccard_x1000") >= thresholdX1000)
      .select(col("a"), col("b"), col("shared"), col("jaccard_x1000"))
  }

  /** stage 1 of [[ngramJaccardPairs]]: scan → tokenize → distinct-gram
    * explode (→ 48-bit hash when `hashShuffleKey`). */
  private def ngramGramTable(documents: DataFrame, n: Int,
                             hashShuffleKey: Boolean): DataFrame = {
    if (hashShuffleKey) {
      // DEFAULT path: the JVM gram core (r9) — tokenize/distinct/hash in
      // one narrow pass, no per-gram Catalyst string materialization.
      // The gram set and count are identical to the column form below
      // (OpsSpec equality test spans both paths).
      val spark = documents.sparkSession
      import spark.implicits._
      parallelized(documents)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions { rows =>
          rows.flatMap { case (id, text) =>
            val set = distinctGramsJvm(text, n)
            val ng = set.size.toLong
            val it = set.iterator()
            new Iterator[(Long, Long, Long)] {
              def hasNext: Boolean = it.hasNext
              def next(): (Long, Long, Long) = (id, ng, PortableHash.md5Long48Jvm(it.next()))
            }
          }
        }.toDF("doc_id", "n_grams", "gram_h")
    } else {
      val exploded = parallelized(documents)
        .select(col("doc_id"), wordNgrams(col("text"), n).as("grams"))
        .withColumn("n_grams", size(col("grams")).cast("long"))
        .select(col("doc_id"), col("n_grams"), explode(col("grams")).as("gram"))
      exploded.withColumnRenamed("gram", "gram_h")
    }
  }

  /** stage 2: group by the gram key + bucket-size guard (the cap rides
    * the same aggregation that feeds the pair emission — no window). */
  private def ngramBuckets(grams: DataFrame, maxBucketSize: Int): DataFrame =
    grams
      .groupBy(col("gram_h"))
      .agg(collect_list(struct(col("doc_id"), col("n_grams"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))

  /** stage 3: local pairwise emission per bucket. */
  private def ngramPairEmission(buckets: DataFrame): DataFrame = {
    val spark = buckets.sparkSession
    import spark.implicits._
    buckets
      .select(col("members")).as[Seq[(Long, Long)]]
      .flatMap { members =>
        val sorted = members.sortBy(_._1)
        for { i <- sorted.indices.iterator; j <- (i + 1) until sorted.length
              if sorted(i)._1 != sorted(j)._1 }
          yield (sorted(i)._1, sorted(j)._1, sorted(i)._2, sorted(j)._2)
      }.toDF("a", "b", "n_a", "n_b")
  }

  /** MinHash signatures: k minimums of PortableHash affine family hashes
    * (ONE md5 digest per shingle, k multiply-adds — fixed-width LONG agg
    * buffers keep the signature aggregation in HashAggregate) over word
    * shingles. One row per (doc, band) with the band's bucket key — the
    * LSH pre-join shape. numHashes = bands * rowsPerBand. */
  def minhashBands(documents: DataFrame, shingleN: Int = 3,
                   bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    // r9: the constant-tag instantiation of [[bandsTagged]] — gram scan
    // through the JVM core with ONE md5 digest per gram, the 64 family
    // hashes applied as multiply-adds over the shared base column;
    // values identical to familyHashLong(i, gram) by construction
    bandsTagged(taggedDocs(documents, inc = true), shingleN, bands, rowsPerBand)
      .select(col("doc_id"), col("band"), col("bucket"))

  /** LSH candidate duplicate pairs: docs sharing any band bucket.
    * Group-collect + local pairwise emission — one shuffle, no self-join
    * (the signature subtree is evaluated once, not per join side); bucket
    * membership lists are bounded by `maxBucketSize` before expansion. */
  def minhashCandidates(documents: DataFrame, shingleN: Int = 3,
                        bands: Int = 16, rowsPerBand: Int = 4,
                        maxBucketSize: Int = 200): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    minhashBands(documents, shingleN, bands, rowsPerBand)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val sorted = ids.sorted
        for { i <- sorted.indices.iterator; j <- (i + 1) until sorted.length }
          yield (sorted(i), sorted(j))
      }.toDF("a", "b").distinct()
  }

  /** Cross-corpus EXACT dedup — the incremental-ingestion primitive of a
    * continuously crawled pipeline: which `incoming` docs are NEW against
    * the already-kept `seen` corpus? Full-width md5 content fingerprints
    * (the anti-join key must be collision-FREE — a 48-bit key starts
    * dropping genuinely-new docs to birthday collisions around 10^7
    * docs; dedup keys may collide, drop keys may not), distinct'd seen
    * side, LEFT ANTI hash join. Both sides partition by the fingerprint —
    * no broadcast assumption, because at 100 TB the seen corpus is as
    * large as the incoming batch. */
  def newAgainstSeen(incoming: DataFrame, seen: DataFrame): DataFrame =
    parallelized(incoming)
      .select(col("doc_id"), md5(col("text")).as("md5_fp"))
      .join(parallelized(seen).select(md5(col("text")).as("md5_fp")).distinct(),
            Seq("md5_fp"), "left_anti")
      .select(col("doc_id"), col("md5_fp"))

  /** The NEAR-dup SCREEN of the same ingestion step: flag incoming docs
    * whose MinHash band buckets collide with the seen corpus — the
    * standard LSH screen (suspects go on to a pairwise verifier; clean
    * docs stream straight through). One row per incoming doc with its
    * colliding-band count and the 0/1 verdict. The seen side is reduced
    * to DISTINCT (band, bucket) keys — band-bucket cardinality, not
    * corpus size — and the probe is a semi-join on that fixed-width pair
    * followed by ONE doc-granular count; the closing left join restores
    * clean docs with n_hit_bands = 0. */
  def nearNewScreen(incoming: DataFrame, seen: DataFrame, shingleN: Int = 3,
                    bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val hits = minhashBands(incoming, shingleN, bands, rowsPerBand)
      .join(minhashBands(seen, shingleN, bands, rowsPerBand)
              .select(col("band"), col("bucket")).distinct(),
            Seq("band", "bucket"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_bands"))
    incoming.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"),
              when(col("n_hit_bands").isNotNull, lit(1)).otherwise(lit(0))
                .cast("int").as("suspect"))
  }

  /** The APPLICATION step of cross-corpus ingestion dedup: route every
    * incoming doc to `clean` / `exact_dup` / `near_dup` against the seen
    * corpus and carry the batch rows through, so `route = 'clean'` IS
    * the cleaned incoming batch and the other routes are the quarantine
    * table — the decision op downstream of [[newAgainstSeen]] (report)
    * and [[nearNewScreen]] (screen). Exact duplicates route first (a
    * byte-identical doc is never merely "near"); a non-exact doc with
    * more than `maxHitBands` colliding MinHash bands quarantines as
    * near-dup. Partition-invariant by construction: every verdict is a
    * pure function of the doc's content and the seen corpus — no
    * min-doc-id keeper races, no rand(). The seen corpus is scanned once
    * per index it feeds (distinct md5 set + distinct band buckets —
    * both cardinality-bounded, neither broadcast-assumed), exactly the
    * two indexes a 100 TB ingestion tier maintains incrementally.
    *
    * PRECONDITION: `doc_id` is unique within `incoming` — it is the
    * routing identity (the screen aggregates band hits per doc_id, so
    * duplicate ids would pool their counts). The exact flag is reduced
    * to a DISTINCT doc_id set before the closing joins, so a violating
    * input degrades to per-row routing under pooled screen counts
    * instead of fanning out rows multiplicatively. */
  def crossApply(incoming: DataFrame, seen: DataFrame, shingleN: Int = 3,
                 bands: Int = 16, rowsPerBand: Int = 4,
                 maxHitBands: Long = 0L): DataFrame = {
    val inc = parallelized(incoming)
      .select(col("doc_id"), col("text"), md5(col("text")).as("md5_fp"))
    val exact = inc
      .join(parallelized(seen).select(md5(col("text")).as("md5_fp")).distinct(),
            Seq("md5_fp"), "left_semi")
      .select(col("doc_id"), lit(1).as("exact_dup")).distinct()
    val screen = nearNewScreen(incoming, seen, shingleN, bands, rowsPerBand)
      .select(col("doc_id"), col("n_hit_bands"))
    val route = when(col("exact_dup") === 1, lit("exact_dup"))
      .when(col("n_hit_bands") > maxHitBands, lit("near_dup"))
      .otherwise(lit("clean"))
    inc
      .join(exact, Seq("doc_id"), "left")
      .join(screen, Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("n_hit_bands"),
              coalesce(col("exact_dup"), lit(0)).cast("int").as("exact_dup"),
              route.as("route"),
              (route === "clean").cast("int").as("kept"))
  }

  /** The PAIRWISE VERIFIER downstream of [[nearNewScreen]] /
    * [[crossApply]]: the screen's near-dup verdict rides band-hit counts
    * alone, so its suspects go on to an exact shingle-Jaccard check
    * against the specific seen docs they collided with — the classic
    * LSH-then-verify shape. Work is SUSPECT-BOUNDED, never corpus²:
    *
    *   1. candidate pairs = suspect incoming docs ⋈ seen docs sharing a
    *      MinHash band bucket (seen buckets over `maxBucketSize`
    *      members are dropped first — the deterministic stopword-shingle
    *      skew guard [[ngramJaccardPairs]] uses);
    *   2. shared-gram counts per pair = the suspects' distinct shingles
    *      fanned over their candidate pairs (suspect grams × candidates
    *      rows), equi-joined against the candidate seen docs' shingle
    *      sets — an (id, gram) hash join, no NestedLoop anywhere;
    *   3. exact Jaccard per pair, then the BEST seen match per suspect
    *      (jaccard desc, seen_id asc — deterministic), verdict =
    *      jaccard ≥ threshold.
    *
    * One row per SUSPECT: (doc_id, n_hit_bands, best_seen_id,
    * jaccard_x1000, verified, route_refined) — `near_dup` when the true
    * similarity confirms the screen, `screen_false_alarm` when it does
    * not (those docs return to the clean pool). A suspect whose only
    * collisions were in dropped oversize buckets keeps best_seen_id = -1
    * and jaccard 0. Partition-invariant: every verdict is a pure
    * function of content + the seen corpus.
    *
    * The suspect-bounded intermediates (`suspects`, `cand`, both gram
    * tables) each feed 2-3 consumers — they MATERIALIZE once
    * (`localCheckpoint`, the capped-pair-pred pattern), so the corpus
    * scans behind them run once, not once per consumer: without the
    * pins, the two band derivations and both shingle explodes are
    * re-executed by every downstream join (the round-8 plan audit
    * counted 40+ exchanges for exactly this reason). */
  def crossVerify(incoming: DataFrame, seen: DataFrame, shingleN: Int = 3,
                  bands: Int = 16, rowsPerBand: Int = 4,
                  thresholdX1000: Int = 500, maxHitBands: Long = 0L,
                  maxBucketSize: Int = 200): DataFrame = {
    // ONE band derivation for BOTH corpus sides (r9): the screen, the
    // bucket-size guard and the candidate join all consume one pinned
    // side-tagged band table — the round-8 shape re-ran minhashBands per
    // consumer (screen incoming + screen seen + okBuckets + cand's seen
    // side + cand's incoming side = 5 full band passes; now exactly 1
    // fused pass over the tagged union; the side rides every group key,
    // so colliding doc_ids across the corpora never merge)
    val allBands = bandsTagged(
      taggedUnion(incoming, seen), shingleN, bands, rowsPerBand)
      .localCheckpoint(eager = false)
    val incBands = allBands.filter(col("inc"))
      .select(col("doc_id"), col("band"), col("bucket"))
    val seenBands = allBands.filter(!col("inc"))
      .select(col("doc_id").as("seen_id"), col("band"), col("bucket"))
    // the nearNewScreen derivation inline over the SHARED band tables —
    // definitionally identical (n_hit_bands = incoming band rows whose
    // (band, bucket) exists in the seen corpus; clean docs restored at 0)
    val hits = incBands
      .join(seenBands.select(col("band"), col("bucket")).distinct(),
            Seq("band", "bucket"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_bands"))
    val suspects = incoming.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"))
      .filter(col("n_hit_bands") > maxHitBands)
      .localCheckpoint(eager = false) // batch-bounded; consumed by cand + the closer
    // seen-side bucket-size guard (window-free self-aggregation over the
    // pinned band table)
    val okBuckets = seenBands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") <= maxBucketSize)
      .select(col("band"), col("bucket"))
    val cand = incBands
      .join(suspects.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(seenBands.join(okBuckets, Seq("band", "bucket"), "left_semi"),
            Seq("band", "bucket"))
      .select(col("doc_id"), col("seen_id")).distinct()
      .localCheckpoint(eager = false) // suspect-bounded; consumed by both gram cuts + shared
    // exact distinct-shingle sets, restricted to the docs that survived
    // into candidate pairs. r9: ONE fused pass — the candidate-doc
    // SEMI-JOIN runs BELOW the shingle explode (join on doc_id commutes
    // with a per-doc generator), so only candidate docs of EITHER side
    // are shingled, in a single pinned job over the tagged union.
    // Materialized: each side feeds its size marginal AND the shared join
    val candIds = cand.select(lit(true).as("inc"), col("doc_id")).distinct()
      .unionByName(cand.select(lit(false).as("inc"), col("seen_id").as("doc_id")).distinct())
    val allGrams = taggedUnion(incoming, seen)
      .join(candIds, Seq("inc", "doc_id"), "left_semi")
      .select(col("inc"), col("doc_id"), explode(wordNgrams(col("text"), shingleN)).as("gram"))
      .localCheckpoint(eager = false)
    val incGrams = allGrams.filter(col("inc")).select(col("doc_id"), col("gram"))
    val seenGrams = allGrams.filter(!col("inc"))
      .select(col("doc_id").as("seen_id"), col("gram"))
    val nInc = incGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    val nSeen = seenGrams.groupBy(col("seen_id")).agg(count(lit(1)).as("n_b"))
    val shared = cand
      .join(incGrams, Seq("doc_id"))
      .join(seenGrams, Seq("seen_id", "gram"), "left_semi")
      .groupBy(col("doc_id"), col("seen_id"))
      .agg(count(lit(1)).as("shared"))
    val scored = shared
      .join(nInc, Seq("doc_id")).join(nSeen, Seq("seen_id"))
      .withColumn("jaccard_x1000",
        ((lit(1000L) * col("shared")) / (col("n_a") + col("n_b") - col("shared")))
          .cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard_x1000").desc, col("seen_id"))
    val best = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("seen_id").as("best_seen_id"),
              col("jaccard_x1000"))
    suspects.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_hit_bands"),
        coalesce(col("best_seen_id"), lit(-1L)).as("best_seen_id"),
        coalesce(col("jaccard_x1000"), lit(0L)).as("jaccard_x1000"),
        when(coalesce(col("jaccard_x1000"), lit(0L)) >= thresholdX1000, lit(1))
          .otherwise(lit(0)).cast("int").as("verified"),
        when(coalesce(col("jaccard_x1000"), lit(0L)) >= thresholdX1000,
             lit("near_dup")).otherwise(lit("screen_false_alarm"))
          .as("route_refined"))
  }

  /** The Bloom-filter EXACT-membership index of the seen corpus — the
    * ingestion screen for when even the distinct-md5 fingerprint set is
    * too large to join against comfortably: k deterministic hash
    * positions per seen doc ([[PortableHash.familyHashLong]] over the
    * text, mod `mBits`), DISTINCT'd — the index is AT MOST `mBits` rows
    * (default 2²² ≈ 4M) and usually ≤ k·|seen|, INDEPENDENT of document
    * sizes, so at 100 TB it is a broadcastable table where the md5 set
    * is not. Fully deterministic (PortableHash family), so the DuckDB
    * oracle recomputes the filter bit-for-bit. The parameters travel
    * WITH the positions ([[BloomIndex]]): probing with a different m or
    * k than the index was built with would silently produce false
    * negatives — the one failure mode a Bloom screen must never have. */
  final case class BloomIndex(positions: DataFrame, mBits: Long, kHashes: Int)

  def bloomPositions(seen: DataFrame, mBits: Long = 1L << 22,
                     kHashes: Int = 7): BloomIndex = {
    graft.functions.ZhFunctions.register(seen.sparkSession)
    BloomIndex(
      parallelized(seen)
        .select(PortableHash.md5Long48(col("text")).as("base")) // one digest per doc (r9)
        .select(explode(array((0 until kHashes).map(i =>
          pmod(PortableHash.familyHashLongOverBase(i, col("base")), lit(mBits))): _*))
          .as("pos"))
        .distinct(),
      mBits, kHashes)
  }

  /** Probe the incoming batch against a [[bloomPositions]] index: a doc
    * whose k positions are ALL present is `maybe_seen` (classic Bloom
    * semantics — NO false negatives, false-positive rate ≈ (1-e^{-kn/m})^k;
    * suspects go on to the exact md5 anti-join or the pairwise verifier,
    * clean docs stream straight through). One narrow probe explode +
    * LEFT SEMI on the fixed-width position + one doc-granular count —
    * the probe side never carries text past the hash. */
  def crossBloomScreen(incoming: DataFrame, bloom: BloomIndex): DataFrame = {
    graft.functions.ZhFunctions.register(incoming.sparkSession)
    val kHashes = bloom.kHashes
    val probes = parallelized(incoming)
      .select(col("doc_id"), PortableHash.md5Long48(col("text")).as("base")) // one digest (r9)
      .select(col("doc_id"), explode(array((0 until kHashes).map(i =>
        pmod(PortableHash.familyHashLongOverBase(i, col("base")), lit(bloom.mBits))): _*))
        .as("pos"))
    // semi-join keeps left multiplicity: k probe rows per doc, so
    // n_hits == kHashes ⇔ every position present, even when a doc's own
    // k positions collide with each other
    val hits = probes.join(bloom.positions.select(col("pos")).distinct(),
        Seq("pos"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    incoming.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"),
              when(col("n_hits") === kHashes.toLong, lit(1)).otherwise(lit(0))
                .cast("int").as("maybe_seen"))
  }

  /** 48-bit SimHash over word tokens: sign-sum of per-token md5Long48 bits.
    * Computed per-partition with a typed transformation (bit loops are not
    * expressible efficiently in Catalyst); 48 bits so every value is exact
    * in the oracle engine's arithmetic. */
  def simhash(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    parallelized(documents).select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val counts = new Array[Int](48)
          for (tok <- text.split(' ') if tok.nonEmpty) {
            val h = PortableHash.md5Long48Jvm(tok)
            var bit = 0
            while (bit < 48) {
              if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
              bit += 1
            }
          }
          var sig = 0L
          var bit = 0
          while (bit < 48) { if (counts(bit) > 0) sig |= (1L << bit); bit += 1 }
          (id, sig)
        }
      }.toDF("doc_id", "simhash48")
  }

  /** simhash near-dup pairs: block on 4×12-bit sub-keys (any exact
    * sub-key match is a candidate; Hamming ≤ 3 duplicates always share at
    * least one of 4 blocks), then verify Hamming distance. Block buckets
    * over `maxBucketSize` docs are dropped before pair expansion — the
    * same deterministic skew guard as every blocker here (a corpus of
    * near-identical boilerplate would otherwise collect one giant bucket). */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Int = 1000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val sigs = simhash(documents)
    val blockStructs = (0 until 4).map { blk =>
      struct(lit(blk).as("blk"),
             shiftrightunsigned(col("simhash48"), blk * 12).bitwiseAND(lit(0xfffL)).as("key"))
    }
    sigs
      .select(col("doc_id"), col("simhash48"), explode(array(blockStructs: _*)).as("bb"))
      .groupBy(col("bb.blk").as("blk"), col("bb.key").as("key"))
      .agg(collect_list(struct(col("doc_id"), col("simhash48"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
      .select(col("members")).as[Seq[(Long, Long)]]
      .flatMap { members =>
        val sorted = members.sortBy(_._1)
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
          ham = java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2)
          if ham <= maxHamming
        } yield (sorted(i)._1, sorted(j)._1, ham)
      }.toDF("a", "b", "hamming").distinct()
  }

  /** winnowing-style document fingerprint: minimum family hash over char
    * 8-gram shingles — k small integer fingerprints per doc. */
  def winnowing(documents: DataFrame, k: Int = 8): DataFrame = {
    graft.functions.ZhFunctions.register(documents.sparkSession) // native md5_long48
    val shingles = when(length(col("text")) >= 8,
      transform(sequence(lit(0), length(col("text")) - 8),
                i => col("text").substr(i + 1, lit(8))))
      .otherwise(array(col("text")))
    // r9: project the md5 base once, apply the k family hashes as
    // multiply-adds over it (identical values; one digest per shingle)
    val exploded = parallelized(documents).select(col("doc_id"), explode(shingles).as("sh"))
      .select(col("doc_id"), PortableHash.md5Long48(col("sh")).as("base"))
    val mins = (0 until k).map(i =>
      min(PortableHash.familyHashLongOverBase(i, col("base"))).as(s"fp$i"))
    exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** embedding-cosine near-duplicate pairs (brute force within label
    * blocks — the deterministic blocking key; `embeddingNearDupsLsh`
    * below is the 100 TB path). sims in x10000 fixed point. */
  def embeddingNearDups(embeddings: DataFrame, thresholdX10000: Int = 9500): DataFrame = {
    // native cos_x10000 (r9, guide §4): the block join emits |block|²/2
    // candidate pairs and the interpreted HOF cosine dominated the op —
    // the native expression is value-identical (same left-to-right
    // double folds; ZhFunctionsSpec property-tests the equivalence)
    graft.functions.ZhFunctions.register(embeddings.sparkSession)
    val l = embeddings.select(col("vec_id").as("a"), col("embedding").as("ea"), col("label"))
    val r = embeddings.select(col("vec_id").as("b"), col("embedding").as("eb"), col("label"))
    l.join(r, Seq("label")).filter(col("a") < col("b"))
      .withColumn("cos_x10000", SimilarityOps.cosX10000(col("ea"), col("eb")))
      .filter(col("cos_x10000") >= thresholdX10000)
      .select(col("a"), col("b"), col("cos_x10000"))
  }

  /** the 100 TB scale path for embedding near-dup: random-hyperplane LSH
    * blocking with single-bit multi-probe — candidate pairs are exactly
    * those whose nPlanes-bit buckets differ in ≤ 1 bit, then exact cosine
    * verify. No cross join: every vector emits its home bucket plus
    * nPlanes one-bit flips; a candidate pair meets in exactly one group
    * under the emit rule "smaller id is home" (hamming-1 pairs meet in the
    * two single-flip groups with roles swapped; hamming-0 pairs meet as
    * home+home), so no distinct pass is needed. Bucket membership capped
    * before pair expansion (skew guard, like every dedup blocker here). */
  def embeddingNearDupsLsh(embeddings: DataFrame, thresholdX10000: Int = 9500,
                           nPlanes: Int = 8, maxBucketSize: Int = 1000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bucketed = SimilarityOps.lshBuckets(embeddings, nPlanes)
    val probeStructs = array(
      (struct(col("bucket").as("probe"), lit(true).as("home")) +:
        (0 until nPlanes).map(b =>
          struct(col("bucket").bitwiseXOR(lit(1L << b)).as("probe"), lit(false).as("home")))): _*)
    bucketed
      .select(col("vec_id"), col("embedding"), explode(probeStructs).as("p"))
      .groupBy(col("p.probe"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("p.home"))).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
      .select(col("members")).as[Seq[(Long, Seq[Float], Boolean)]]
      .flatMap { members =>
        val sorted = members.sortBy(_._1)
        def cosX10000(a: Seq[Float], b: Seq[Float]): Long = {
          // identical fold order to the Catalyst/oracle formulation:
          // left-to-right double sums, then floor
          var dot = 0.0d; var na = 0.0d; var nb = 0.0d
          var i = 0
          while (i < a.length) {
            dot += a(i).toDouble * b(i).toDouble
            na += a(i).toDouble * a(i).toDouble
            nb += b(i).toDouble * b(i).toDouble
            i += 1
          }
          math.floor(10000.0d * dot / (math.sqrt(na) * math.sqrt(nb))).toLong
        }
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
          if sorted(i)._3 // smaller-id member is home → exactly-once emission
          c = cosX10000(sorted(i)._2, sorted(j)._2)
          if c >= thresholdX10000
        } yield (sorted(i)._1, sorted(j)._1, c)
      }.toDF("a", "b", "cos_x10000")
  }

  /** candidate-duplicate PAIRS → dedup CLUSTERS: connected components
    * with cluster id = the component's min doc id, keeper = that min —
    * the step that turns any pairwise dedup op's output into "keep this
    * row, drop those" decisions. The algorithm (min-label propagation
    * with pointer jumping, log-diameter rounds, loud non-convergence
    * failure) lives in [[GraphOps.connectedComponents]] — this is the
    * long-doc-id instantiation. */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20,
                    reliable: Boolean = false): DataFrame =
    GraphOps.connectedComponents(
      pairs.select(col("a").cast("long").as("u"), col("b").cast("long").as("v")),
      maxIters, reliable)
      .select(col("node").as("doc_id"), col("component_id").as("cluster_id"),
              col("is_root").as("is_keeper"))

  /** SQL fragment: maximal contiguous runs of the sorted int array `ps`
    * as arrays_zip'd (run-start, run-end) position pairs — the shared
    * gaps-and-islands core of [[substringSpans]] / [[substringDeduped]]. */
  private val islandZipSql =
    """arrays_zip(
      |  filter(transform(ps, (p, i) -> CASE WHEN i = 0 OR ps[i-1] <> p - 1 THEN p END),
      |         x -> x IS NOT NULL),
      |  filter(transform(ps, (p, i) -> CASE WHEN i = size(ps) - 1 OR ps[i+1] <> p + 1 THEN p END),
      |         x -> x IS NOT NULL))""".stripMargin

  /** Exact SUBSTRING-duplication spans — the token-level dedup family
    * next to the document-level ops above (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", find
    * repeated spans with a suffix array offline; this is the
    * Spark-shaped equivalent): every maximal token span of length ≥ k
    * whose every k-token window occurs MORE THAN ONCE in the corpus
    * (across documents or within one). Emits (doc_id, span_start,
    * span_len_tokens) per maximal span — the rows a span-level filter
    * drops or truncates before training.
    *
    * Plan: k-shingles at stride 1 with positions (one narrow posexplode)
    * → occurrence counts on the fixed-width 48-bit shingle hash →
    * positions of duplicated shingles (equi-join on the hash; output ≤
    * |positions|, no blow-up — each position matches at most one
    * distinct-hash row) → per-doc maximal-run merge, PURE Catalyst
    * (sorted position array + index lambdas pick run starts/ends; per-doc
    * arrays are doc-length-bounded). 3 bounded shuffles, no window over
    * the corpus, no sort except per-doc array sort. */
  def substringSpans(documents: DataFrame, k: Int = 8): DataFrame = {
    import graft.functions.PortableHash
    // the hashed position table feeds BOTH the occurrence aggregate and
    // the duplicated-position join, and the two subtrees share no
    // exchange — pin it so the shingle explode + per-gram md5 run once,
    // not once per consumer (r9; the capped-pair-pred pattern)
    val pos = parallelized(documents)
      .select(col("doc_id"),
              posexplode(TextOps.wordNgramsAll(col("text"), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), PortableHash.md5Long48(col("gram")).as("h"))
      .localCheckpoint(eager = false)
    val dup = pos.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1).select(col("h"))
    pos.join(dup, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), explode(expr(islandZipSql)).as("sp"))
      .select(col("doc_id"), col("sp.0").as("span_start"),
              (col("sp.1") - col("sp.0") + lit(k)).as("span_len_tokens"))
  }

  /** The TRANSFORMATION counterpart of [[substringSpans]]: rewrite the
    * corpus with redundant substring occurrences REMOVED (Lee et al.
    * 2022 drop all-but-one occurrence of each duplicated span; here the
    * keeper of a k-shingle is its globally FIRST occurrence — min
    * (doc_id, pos) — so the rule is deterministic and order/partition-
    * independent). Per doc, non-keeper positions of duplicated shingles
    * merge into maximal delete ranges; the text is rebuilt from the
    * surviving tokens. Returns (doc_id, text_deduped, n_tokens_removed)
    * for EVERY input doc (untouched docs pass through with 0 removed).
    *
    * Same plan skeleton as [[substringSpans]] (narrow posexplode, one
    * agg on the 48-bit hash — here carrying the arg-min keeper — one
    * doc-keyed join + agg) plus one broadcast-free left join back to the
    * corpus on doc_id; the rebuild is a per-row index-lambda filter, no
    * extra shuffle. */
  def substringDeduped(documents: DataFrame, k: Int = 8): DataFrame = {
    import graft.functions.PortableHash
    // pinned for the same two-consumer reason as in [[substringSpans]]
    val pos = parallelized(documents)
      .select(col("doc_id"),
              posexplode(TextOps.wordNgramsAll(col("text"), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), PortableHash.md5Long48(col("gram")).as("h"))
      .localCheckpoint(eager = false)
    val keepers = pos.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("kp"), count(lit(1)).as("n_occ"))
    val redundant = pos.join(keepers, Seq("h"))
      .filter(col("n_occ") > 1 &&
        !(col("doc_id") === col("kp.doc_id") && col("pos") === col("kp.pos")))
      .select(col("doc_id"), col("pos"))
    val delSpans = redundant.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        s"transform($islandZipSql, z -> struct(z['0'] AS s, z['1'] + $k - 1 AS e))")
        .as("dels"))
    documents.join(delSpans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), coalesce(col("dels"),
        expr("CAST(array() AS array<struct<s:int,e:int>>)")).as("dels"))
      .select(col("doc_id"),
        expr("""concat_ws(' ', filter(transform(split(text, ' '), (t, i) -> CASE
               |  WHEN NOT exists(dels, d -> i >= d.s AND i <= d.e) THEN t END),
               |  x -> x IS NOT NULL))""".stripMargin).as("text_deduped"),
        expr("""size(filter(transform(split(text, ' '), (t, i) ->
               |  CASE WHEN exists(dels, d -> i >= d.s AND i <= d.e) THEN 1 END),
               |  x -> x IS NOT NULL))""".stripMargin).cast("long").as("n_tokens_removed"))
  }

  /** max lines per document for the packed-long line keeper key
    * (doc_id * 2^21 + line_idx stays lexicographic iff line_idx < 2^21;
    * at 12 tokens/line that is a 25M-token document — far past any real
    * web document, and the packed key keeps the keeper aggregation in
    * HashAggregate where a struct min would fall back to a sort-based
    * aggregate). */
  val LineIdxBound: Long = 1L << 21

  /** per-doc pseudo-line table: (doc_id, line_idx, line, line_h). A
    * "line" is `tokensPerLine` consecutive whitespace tokens — the
    * synthetic corpus carries no newlines, so the chunking stands in
    * for the newline split a real web corpus would use (swap the
    * builder for `split(text, '\n')` there; everything downstream is
    * delimiter-agnostic). Row-local array build (index lambda over
    * sequence), one narrow posexplode, 48-bit content hash as the
    * fixed-width shuffle key. */
  private def lineExplode(documents: DataFrame, tokensPerLine: Int): DataFrame = {
    graft.functions.ZhFunctions.register(documents.sparkSession) // native md5_long48
    val L = tokensPerLine
    // coalesce: a NULL text must behave like the empty text (one empty
    // line), not silently drop the doc from the output — size(NULL) is
    // NULL, so the raw posexplode would emit no row for it and
    // lineDeduped's every-input-doc contract would break on real
    // corpora (the oracle SQL carries the same COALESCE)
    documents
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast((size(split(coalesce(text, ''), ' ')) - 1) div $L as int)),
           |  i -> array_join(slice(split(coalesce(text, ''), ' '), i * $L + 1, $L), ' '))""".stripMargin))
        .as(Seq("line_idx", "line")))
      .select(col("doc_id"), col("line_idx"),
              col("line"),
              graft.functions.PortableHash.md5Long48(col("line")).as("line_h"))
  }

  /** GLOBAL exact duplicate-LINE report — the C4 / RefinedWeb line-level
    * dedup primitive (Raffel et al. 2020 discard all-but-one occurrence
    * of every three-sentence span; Penedo et al. 2023 "we remove
    * duplicated lines" corpus-wide): every line content occurring more
    * than once across the whole corpus, with its occurrence count and
    * the GLOBAL keeper (first occurrence = min (doc_id, line_idx),
    * packed into one long so the min stays in HashAggregate).
    *
    * Plan: one narrow line explode + ONE hash aggregation on the 48-bit
    * line hash. No join, no window, no sort. */
  def duplicateLines(documents: DataFrame, tokensPerLine: Int = 12): DataFrame =
    lineExplode(parallelized(documents), tokensPerLine)
      .groupBy(col("line_h"))
      .agg(count(lit(1)).as("n_occ"),
           min(col("doc_id") * lit(LineIdxBound) + col("line_idx")).as("kpk"))
      .filter(col("n_occ") > 1)
      .select(col("line_h"), col("n_occ"),
              expr(s"kpk div $LineIdxBound").as("keeper_doc"),
              pmod(col("kpk"), lit(LineIdxBound)).cast("int").as("keeper_idx"))

  /** The TRANSFORMATION counterpart of [[duplicateLines]]: rewrite the
    * corpus with every non-keeper occurrence of a duplicated line
    * REMOVED (keeper = globally first occurrence, so the result is
    * deterministic and partition/order-independent — same keeper rule
    * as [[substringDeduped]]). Returns (doc_id, n_lines, n_kept,
    * text_deduped) for EVERY input doc; a doc made entirely of
    * already-seen lines survives as an empty string (its row is the
    * signal a downstream length filter acts on).
    *
    * Plan: line explode → keeper aggregation on the 48-bit hash → one
    * equi-join of occurrences against keepers on that fixed-width key
    * (AQE broadcasts the keeper side when it is small) → one per-doc
    * reassembly aggregation (row-local sort_array on (line_idx, line)
    * structs — no distributed sort). 3 bounded shuffles total. */
  def lineDeduped(documents: DataFrame, tokensPerLine: Int = 12): DataFrame = {
    // pinned: the line table feeds the keeper aggregate AND the
    // occurrence join — without the pin the line explode (per-line
    // slice/join + md5) executes once per consumer (r9)
    val ex = lineExplode(parallelized(documents), tokensPerLine)
      .localCheckpoint(eager = false)
    val keepers = ex.groupBy(col("line_h"))
      .agg(min(col("doc_id") * lit(LineIdxBound) + col("line_idx")).as("kpk"))
    ex.join(keepers, Seq("line_h"))
      .withColumn("kept",
        col("doc_id") * lit(LineIdxBound) + col("line_idx") === col("kpk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
           sum(col("kept").cast("long")).as("n_kept"),
           sort_array(collect_list(when(col("kept"),
             struct(col("line_idx"), col("line"))))).as("ks"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
              array_join(expr("transform(ks, x -> x.line)"), " ").as("text_deduped"))
  }
}
