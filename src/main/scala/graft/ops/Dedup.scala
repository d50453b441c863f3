package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Design for 10^12 rows: per-document work (shingling, signatures) is
  * map-side over the text column; the only shuffles are (a) the LSH
  * bucket pairing, keyed by (band, band_hash) — bounded fan-out because
  * each doc emits exactly `bands` keys and every bucket is capped — and
  * (b) the candidate-pair verify join, keyed by doc id. Never an O(N^2)
  * cross join; the banding IS the blocking strategy. Exact Jaccard runs
  * only on LSH candidates.
  */
object Dedup {

  /** Bump when any dedup kernel output changes (hash64 / simhash /
    * minhashSignature / banding) — keys the materialized candidate and
    * code dumps (candsDumpPath / simhashDumpPath / the pagemh tag),
    * exactly like ExtractionVersion keys the extraction dump: a kernel
    * change must never silently reuse a stale /tmp dump the oracle then
    * green-lights (round-3 ADVICE #2). */
  val Version: String = "dedup-1"

  /** Exact dedup: group by content hash, keep the smallest id.
    * (doc_id semantics follow the reference's deterministic-id rule;
    * see graft.core.Extract.docId.) */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Url uniqueness, the rung CurateJob and ExportJob run before any
    * content dedup: one row per `url`. Identical re-crawl rows collapse;
    * among differing texts of one url the min-digest row wins —
    * deterministic. A row with a null url or text never survives.
    * Output `(url, h, <textCol>)`, `h` = md5(text). One aggregate over
    * one read of `docs` (the keeper rides in the min struct), never a
    * join back against its own lineage. */
  def onePerUrl(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col("url").isNotNull && col(textCol).isNotNull)
      .groupBy(col("url"))
      .agg(min(struct(md5(col(textCol)).as("h"), col(textCol).as("t"))).as("k"))
      .select(col("url"), col("k.h").as("h"), col("k.t").as(textCol))

  /** Exact content dedup over [[onePerUrl]]'s output — the q12 rule
    * (the one [[exact]] tabulates): one row per digest `h`, the
    * lexicographic-min `idCol` row. Output `(idCol, textCol)`. One
    * aggregate keyed by the digest; the text rides in the min struct. */
  def onePerDigest(perUrl: DataFrame, idCol: String, textCol: String): DataFrame =
    perUrl.groupBy(col("h"))
      .agg(min(struct(col(idCol).as("id"), col(textCol).as("t"))).as("k"))
      .select(col("k.id").as(idCol), col("k.t").as(textCol))

  // ---- shingling / hashing (pure; shared by minhash + jaccard) -------

  /** Distinct word n-gram shingles, hashed to 64-bit. */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (words.length < n) return Array(hash64(words.mkString(" ")))
    val set = new java.util.HashSet[Long]()
    var i = 0
    while (i + n <= words.length) {
      var h = 1125899906842597L
      var j = 0
      while (j < n) {
        h = h * 31 + hash64(words(i + j))
        j += 1
      }
      set.add(mix64(h))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  @inline def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  @inline def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---- MinHash ---------------------------------------------------------

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4 // Bands * RowsPerBand == NumHashes

  // fixed affine permutations (a_i odd, deterministic)
  private val minhashA: Array[Long] = Array.tabulate(NumHashes)(i => mix64(0xa5a5a5a5L + i) | 1L)
  private val minhashB: Array[Long] = Array.tabulate(NumHashes)(i => mix64(0x5a5a5a5aL - i))

  /** One-pass MinHash signature over a doc's shingle hashes. */
  def minhashSignature(shingles: Array[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var s = 0
    while (s < shingles.length) {
      val h = shingles(s)
      var i = 0
      while (i < NumHashes) {
        val v = minhashA(i) * h + minhashB(i)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    sig
  }

  /** Band b's bucket hash over a signature — the ONE banding kernel,
    * shared by batch LSH ([[minhashBands]]) and the streaming bucket
    * keys ([[bandKeys]]). */
  @inline def bandHash(sig: Array[Long], b: Int): Long = {
    var h = 1125899906842597L
    var r = 0
    while (r < RowsPerBand) { h = h * 31 + sig(b * RowsPerBand + r); r += 1 }
    mix64(h)
  }

  /** The `Bands` bucket keys of a signature as single Longs (band index
    * folded in, so band b and band b' never share a key space) — the
    * streaming near-dup state is keyed by these. */
  def bandKeys(sig: Array[Long]): IndexedSeq[Long] =
    (0 until Bands).map(b => bandHash(sig, b) ^ mix64(0x9e3779b97f4a7c15L * (b + 1)))

  /** LSH banding: each doc emits exactly `Bands` (band, hash) keys. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String, shingleN: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ids ride as strings: lossless for longs AND for hex ids like
    // graft.core.Extract.docId (a long cast would null those out)
    docs.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val sig = minhashSignature(shingleHashes(text, shingleN))
          (0 until Bands).iterator.map(b => (id, b, bandHash(sig, b)))
        }
      }
      .toDF("id", "band", "band_hash")
  }

  /** Default LSH bucket cap: a (band, band_hash) bucket holding more
    * docs than this is dropped whole. */
  val MaxBucket = 1000

  private val BandKey = Seq("band", "band_hash")

  // ---- the bucket cap and the bucket-pair kernel -----------------------
  //
  // Every capped near-dup path (MinHash LSH, batch and incremental, and
  // Winnowing) blocks documents into buckets, drops each bucket holding
  // more than `cap` distinct members (a hot bucket is the skew case: its
  // pair fan-out grows with the square of its size) and pairs the members
  // of the buckets it keeps. The drop is deliberate (an oversized bucket
  // means near-identical docs many times over, exact dedup's job, or a
  // boilerplate fingerprint) but never silent: the cap's own sizing
  // aggregate counts it.

  /** The one bucket-size aggregate: the distinct `(keys…, idCol)`
    * members and their count `n` per bucket. */
  private def bucketSizes(members: DataFrame, keys: Seq[String],
                          idCol: String): (DataFrame, DataFrame) = {
    val m = members.select((keys :+ idCol).map(col): _*).distinct()
    (m, m.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n")))
  }

  /** The bucket cap: the distinct members of every bucket holding at
    * most `cap` of them, as `(keys…, idCol)`. The bucket sizes are
    * computed once, map-side partial counts first, so a hot bucket never
    * concentrates its raw rows before it is dropped. `dropped` observes
    * that same aggregate: once an action has run the pairs,
    * [[droppedBuckets]] reads how many buckets the cap dropped. */
  private[ops] def capBuckets(members: DataFrame, keys: Seq[String], idCol: String,
                              cap: Int, dropped: Observation): DataFrame = {
    val (m, sizes) = bucketSizes(members, keys, idCol)
    val kept = sizes.observe(dropped, count_if(col("n") > cap).as("dropped"))
      .filter(col("n") <= cap)
    m.join(kept, keys, "left_semi")
  }

  /** Buckets of `members` holding more than `cap` distinct ids, counted
    * on their own through the cap's sizing aggregate: for a dump that is
    * staged before any pairs are drawn from it (Winnowing's fingerprint
    * table). Where the pairs are computed, [[droppedBuckets]] reads the
    * cap's own count. */
  def oversizedBucketCount(members: DataFrame, keys: Seq[String], idCol: String,
                           cap: Int): Long =
    bucketSizes(members, keys, idCol)._2.filter(col("n") > cap).count()

  /** The buckets a cap dropped from `members`, read from the Observation
    * handed to [[candidatePairs]], [[incrementalCandidates]] or
    * `Winnowing.pairs` after an action has run the pairs. AQE drops a
    * stage from the final plan, and its observed metrics with it, when
    * the stages above it turn out empty (no kept bucket yields a pair);
    * the count then runs through the cap's sizing aggregate on its own
    * ([[oversizedBucketCount]]). */
  def droppedBuckets(dropped: Observation, members: DataFrame, keys: Seq[String] = BandKey,
                     idCol: String = "id", cap: Int = MaxBucket): Long =
    dropped.get.get("dropped")
      .fold(oversizedBucketCount(members, keys, idCol, cap))(_.asInstanceOf[Long])

  /** The pairs of kept members that share a bucket: `(a_id, b_id,
    * n_shared)`, `a_id < b_id`, `n_shared` the number of buckets they
    * share. Each bucket's members collect into ONE sorted array (co-
    * partitioned with the cap's semi-join, no extra exchange; the cap is
    * what makes collect_list safe at any corpus size), the a<b pairs are
    * generated map-side as an array comprehension, and one aggregate by
    * pair counts them: no member⋈member self-join, so no double sort of
    * the member table. */
  private[ops] def bucketPairs(kept: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    kept.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ds) - 2), i -> " +
          "transform(sequence(i + 1, size(ds) - 1), j -> " +
          "named_struct('a_id', ds[i], 'b_id', ds[j]))))")).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** A bucket cap's audit sidecar: `file`, beside a materialized dump,
    * holding `{"<droppedKey>":n,"<capKey>":cap}` (underscore-prefixed
    * file names, so parquet readers skip it). */
  final case class CapAudit(file: String, droppedKey: String, capKey: String) {
    /** Record `dropped` in the sidecar inside `destDir` (when that dir
      * exists) and log a nonzero drop. */
    def write(destDir: String, cap: Int, dropped: Long): Unit = {
      val p = java.nio.file.Paths.get(destDir, file)
      if (java.nio.file.Files.isDirectory(p.getParent))
        java.nio.file.Files.writeString(p, s"""{"$droppedKey":$dropped,"$capKey":$cap}""" + "\n")
      if (dropped > 0) println(s"[graft] bucket cap dropped $dropped buckets ($capKey=$cap) — recorded in $p")
    }
  }

  /** The sidecar of the LSH candidate dumps. */
  val BucketAudit = CapAudit("_bucket_audit.json", "oversized_buckets_dropped", "max_bucket")

  /** Candidate pairs from LSH buckets: distinct `(a_id, b_id)`, a < b,
    * from the members of every (band, band_hash) bucket the cap keeps
    * ([[capBuckets]] then [[bucketPairs]]). Pass `dropped` to read the
    * dropped-bucket count ([[droppedBuckets]]) after an action. */
  def candidatePairs(bands: DataFrame, maxBucket: Int = MaxBucket,
                     dropped: Observation = Observation()): DataFrame =
    bucketPairs(capBuckets(bands, BandKey, "id", maxBucket, dropped), BandKey, "id")
      .select("a_id", "b_id")

  /** Incremental (batch-vs-corpus) candidate pairs: the LSH bands of a
    * NEW ingest batch equi-joined against the precomputed bands of the
    * EXISTING corpus ([[minhashBands]]) — the daily-crawl dedup shape,
    * where the corpus index is built once and each increment only
    * hashes and probes its own docs. Returns distinct (a_id = batch id,
    * b_id = corpus id).
    *
    * Scale: the corpus side is the 10^12-row side, so the bucket cap
    * ([[capBuckets]]) is applied to ITS buckets (a batch band key landing
    * in an oversized corpus bucket would fan out maxBucket× otherwise),
    * and `dropped` counts the corpus buckets it drops, so a batch doc
    * whose only matching bucket was dropped is never a silently clean
    * verdict. The join stays a plain shuffle equi-join on (band,
    * band_hash) with AQE skew handling. At production scale the corpus
    * bands are a materialized table partitioned by band — each increment
    * shuffles only |batch| × Bands rows, never the corpus. Within-batch
    * duplicates are [[candidatePairs]]' job, deliberately out of scope
    * here. */
  def incrementalCandidates(corpusBands: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int = 2, maxBucket: Int = MaxBucket,
                            dropped: Observation = Observation()): DataFrame =
    minhashBands(batch, idCol, textCol, shingleN)
      .select(col("band"), col("band_hash"), col("id").as("a_id"))
      .join(capBuckets(corpusBands, BandKey, "id", maxBucket, dropped)
        .withColumnRenamed("id", "b_id"), BandKey)
      .select("a_id", "b_id")
      .distinct()

  /** Exact n-gram Jaccard over candidate pairs: the member shingle
    * sets joined to both sides ([[verifyJoin]]), the kernel map-side. */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, shingleN: Int, threshold: Double): DataFrame = {
    import docs.sparkSession.implicits._
    verifyJoin(candidates, docs, idCol, textCol, shingleN).mapPartitions { it =>
      it.map { case (a, b, ha, hb) => (a, b, jaccard(ha, hb)) }
    }.toDF("a_id", "b_id", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric shingle CONTAINMENT over candidate pairs — quote /
    * inclusion detection (Broder 1997 defines containment alongside
    * resemblance): symmetric jaccard misses a short document embedded
    * verbatim in a much longer one (the union is dominated by the long
    * side), but C(A→B) = |sh(A)∩sh(B)| / |sh(A)| reads 1.0 regardless
    * of the size ratio. Same verify join and scale posture as
    * [[jaccardVerify]] ([[verifyJoin]]); the kernel is map-side. Emits
    * both directions plus the dominant one; a pair is kept when EITHER
    * direction clears `threshold`. shingleHashes returns a non-empty
    * distinct set even for empty text, so denominators are never 0. */
  def containmentVerify(candidates: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String, shingleN: Int, threshold: Double): DataFrame = {
    import docs.sparkSession.implicits._
    verifyJoin(candidates, docs, idCol, textCol, shingleN).mapPartitions { it =>
      it.map { case (a, b, sa, sb) =>
        val hs = new java.util.HashSet[Long]()
        sa.foreach(hs.add)
        var inter = 0
        sb.foreach { h => if (hs.contains(h)) inter += 1 }
        (a, b, inter.toDouble / sa.length, inter.toDouble / sb.length)
      }
    }.toDF("a_id", "b_id", "cont_a_in_b", "cont_b_in_a")
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .withColumn("direction",
        when(col("cont_a_in_b") >= col("cont_b_in_a"), "a_in_b").otherwise("b_in_a"))
  }

  /** The verify join both pair kernels run on: (a_id, b_id, a_sh, b_sh),
    * each candidate pair with both members' shingle hash sets. */
  private def verifyJoin(candidates: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String, shingleN: Int): Dataset[(String, String, Array[Long], Array[Long])] = {
    import docs.sparkSession.implicits._
    // verify only touches candidate MEMBERS: semi-join the corpus down
    // to ids that appear in some pair before the two joins, so the
    // heavy text payload of the ~never-duplicated majority never enters
    // a join shuffle (at sf0.1 this is ~10x fewer text rows; at 10^12
    // docs it is the difference between shuffling the corpus twice and
    // shuffling only the near-dup suspects)
    // both members from ONE read of `candidates` (a union of two
    // selects would re-run the whole candidate lineage once per side;
    // the pair join below is the only other read)
    val memberIds = candidates.select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct()
    // r6 (guide §2.3): shingle each MEMBER once, map-side, before the
    // pair joins — joining raw text would re-run shingleHashes per PAIR
    // occurrence, so a doc in k candidate pairs would be tokenized and
    // hashed k times (and its text would cross the join twice). The
    // joins carry the 8-byte hash arrays instead of text.
    val sh = docs.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .join(memberIds, Seq("id"), "left_semi")
      .as[(String, String)]
      .mapPartitions(_.map { case (id, t) => (id, shingleHashes(t, shingleN)) })
      .toDF("id", "sh")
    candidates
      .join(sh.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "a_sh"), Seq("a_id"))
      .join(sh.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "b_sh"), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh"))
      .as[(String, String, Array[Long], Array[Long])]
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = new java.util.HashSet[Long]()
    a.foreach(sa.add)
    var inter = 0
    val sb = new java.util.HashSet[Long]()
    b.foreach { h => if (sb.add(h) && sa.contains(h)) inter += 1 }
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Exactness baseline: ALL-PAIRS word-trigram Jaccard — the q17-style
    * cartesian ground truth for the LSH paths ([[minhashBands]] →
    * [[candidatePairs]] → [[jaccardVerify]] is the 10^12-scale answer,
    * as CurateJob composes it; this one is O(N^2) by design and stays gated to
    * oracle/test scale). Everything is built from codegen'd SQL
    * expressions (split/transform/array_intersect — no UDF) precisely so
    * a DuckDB oracle can mirror it term for term. */
  /** The LAZY brute-force plan (shingle → broadcast theta join →
    * jaccard ≥ threshold) plus the persisted shingle handle. Split out
    * so PlanSpec can gate the join shape (broadcast build side,
    * round-robin-spread streamed side) — [[jaccardBruteForce]]
    * materializes this via localCheckpoint, after which the plan is an
    * opaque RDD scan. */
  private[graft] def jaccardBruteForcePlan(
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.2): (DataFrame, DataFrame) = {
    val toks = filter(split(col(textCol), " "), x => x =!= "")
    // persisted: both join sides derive from this plan, and without the
    // persist the tokenize+shingle work would execute twice (once for
    // the streamed side, once for the broadcast build). The table is
    // small by contract (brute force is the capped baseline).
    val sh = docs.select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col(idCol), Ngrams.distinct(col("toks"), 3).as("sh"))
      .persist()
    // A small parquet corpus arrives as ONE scan split, and a
    // nested-loop join inherits the STREAMED side's partitioning — so
    // without an explicit repartition the whole O(N²) loop runs on a
    // single core (measured: 535 s for 5k docs at local[32]; ~17 s
    // parallel). Broadcast the build side, spread the streamed side.
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism * 2
    val a = sh.select(col(idCol).as("a_id"), col("sh").as("a_sh")).repartition(parallelism)
    val b = sh.select(col(idCol).as("b_id"), col("sh").as("b_sh"))
    val inter = size(array_intersect(col("a_sh"), col("b_sh")))
    val joined = a.join(broadcast(b), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (inter.cast("double") / (size(col("a_sh")) + size(col("b_sh")) - inter).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (joined, sh)
  }

  def jaccardBruteForce(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", threshold: Double = 0.2): DataFrame = {
    val (joined, sh) = jaccardBruteForcePlan(docs, idCol, textCol, threshold)
    // materialize via eager localCheckpoint, RETURN the checkpointed
    // Dataset (returning the lazy plan would recompute the whole O(N²)
    // join on first use after the unpersist below), then release the
    // cached shingle blocks — repeated invocations in one session
    // (BenchExtra reps) would otherwise accumulate storage-memory blocks
    // per call. blocking = false: the result is already computed.
    val out = joined.localCheckpoint(eager = true)
    sh.unpersist(blocking = false)
    out
  }

  // ---- dedup clustering (keep-one-per-cluster) --------------------------

  /** Connected components over an undirected near-dup pair list —
    * the step AFTER [[jaccardVerify]] that a training-data pipeline
    * needs to actually drop duplicates: pairs → clusters → one
    * canonical doc per cluster.
    *
    * Edges: each pair (a, b) is exploded into both directed edges
    * (a→b, b→a) in ONE pass over `pairs`, then made distinct — so an
    * unstaged `pairs` lineage (a verify join, say) executes once here,
    * not once per direction.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round every node takes the min label over itself + its
    * neighbors (one equi-join + groupBy), then labels compress through
    * their parents (label := label(label), a second equi-join) — the
    * jumping squares path lengths, so rounds are O(log diameter), not
    * O(diameter). All distributed state is (id, label) rows and every
    * shuffle is an equi-join or groupBy on id; no driver-side graph —
    * the driver only runs the (logarithmic) [[Fixpoint]] loop and its
    * cheap convergence probe.
    *
    * Ids are compared as STRINGS (lexicographic min) because dedup ids
    * ride as strings end-to-end (hex ids from Extract.docId must not
    * null out in a long cast); the canonical member is the
    * lexicographically-smallest id, and the DuckDB oracle mirrors that
    * ordering exactly.
    *
    * Returns (id, label) for every id that appears in `pairs`; callers
    * left-join and coalesce to self for singletons. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id", maxIters: Int = 25): DataFrame = {
    val a = col(aCol).cast("string")
    val b = col(bCol).cast("string")
    // persisted, not staged through Fixpoint.stage: a checkpoint keeps
    // the planner's size estimate of its lineage, and a verify join is
    // estimated far above its real size, so each round would plan
    // sort-merge joins that AQE turns into broadcasts only after running
    // both shuffles (2 more jobs a round on q47). A filled cache reports
    // its real size. The seed's checkpoint fills it; the last round
    // reads only `prop`, so it is freed on return.
    val edges = pairs
      .select(explode(array(struct(a.as("src"), b.as("dst")),
        struct(b.as("src"), a.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct().persist()
    val seed = Fixpoint.stage(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    val out = Fixpoint(seed, maxIters) { (labels, _) =>
      val nbr = edges.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("label"), lit(false).as("self"))
      // `prop` is read twice below (as itself and as the parent side of
      // the pointer jump) and Spark does not share a subplan across a
      // self-join, so it is staged. The min-label fold also carries each
      // node's OLD label (the max over the self-tagged row), so the
      // round's `moved` flag needs no re-join with the old labels.
      val prop = labels.select(col("id"), col("label"), lit(true).as("self"))
        .union(nbr)
        .groupBy("id").agg(min(col("label")).as("label"),
          max(when(col("self"), col("label"))).as("old"))
        .localCheckpoint(true)
      val parents = prop.select(col("id").as("p_id"), col("label").as("p_label"))
      prop.join(parents, prop("label") === parents("p_id"))
        .select(prop("id"), least(prop("label"), col("p_label")).as("label"),
          (least(prop("label"), col("p_label")) =!= col("old")).as("moved"))
    }
    edges.unpersist(blocking = false)
    out
  }

  /** Per-document cluster assignment: every doc gets a cluster_id (its
    * component's smallest member id; itself when unpaired) and an
    * is_canonical flag — the keep-one-per-cluster selector. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id"): DataFrame = {
    val labels = connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id").withColumnRenamed("label", "comp")
    docs.select(col(idCol).cast("string").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("cluster_id") === col("doc_id"))
  }

  // ---- SimHash ---------------------------------------------------------

  /** 64-bit SimHash over word shingles. */
  def simhash(shingles: Array[Long]): Long = {
    val acc = new Array[Int](64)
    var s = 0
    while (s < shingles.length) {
      val h = shingles(s)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
      s += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** Per-document 64-bit SimHash codes (id, sim) — the non-SQL kernel
    * stage, split out so the q21 dump can materialize it: DuckDB then
    * re-derives ALL pairs within the hamming radius by brute force over
    * the dump, and — because pigeonhole blocking is lossless — the
    * blocked [[simhashPairs]] join must emit exactly that set, turning
    * the oracle into a completeness proof of the blocking. */
  def simhashCodes(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleN: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .as[(String, String)]
      .mapPartitions(_.map { case (id, t) => (id, simhash(shingleHashes(t, shingleN))) })
      .toDF("id", "sim")
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, from
    * precomputed codes. Blocking by the pigeonhole principle: split the
    * 64-bit hash into (maxHamming+1) chunks; any pair within the
    * distance must agree on at least one full chunk → equi-join per
    * chunk, verify exactly. Same shuffle shape as MinHash banding
    * (bounded fan-out). */
  def simhashPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val banded = hashes.select(col("id"), col("sim"),
      explode(expr(s"transform(sequence(0, ${chunks - 1}), " +
        s"c -> named_struct('band', c, 'band_hash', (sim >> (c * $bitsPer)) & ${(1L << bitsPer) - 1}))")).as("bk"))
      .select(col("id"), col("sim"), col("bk.band"), col("bk.band_hash"))
    val a = banded.select(col("band"), col("band_hash"), col("id").as("a_id"), col("sim").as("a_sim"))
    val b = banded.select(col("band"), col("band_hash"), col("id").as("b_id"), col("sim").as("b_sim"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(expr("a_sim ^ b_sim")).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Codes + blocked pairs in one call (the original one-shot shape). */
  def simhashDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   shingleN: Int = 2, maxHamming: Int = 3): DataFrame =
    simhashPairs(simhashCodes(docs, idCol, textCol, shingleN), maxHamming)
}
