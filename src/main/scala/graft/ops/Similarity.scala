package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing as the scale path (candidates only form within buckets,
  * so the join is linear-ish in corpus size instead of quadratic).
  * Everything is codegen'd higher-order array functions — no UDFs.
  */
object Similarity {

  /** Cosine similarity — one native-expression pass over float/double
    * arrays ([[graft.expressions.CosineSim]]); deterministic left-to-right
    * double accumulation. */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine_sim", a, b)

  /** Two-phase distributed top-k over a scored (qId, cId, cos_sim)
    * frame — the 100-TB-safe reduction shape.
    *
    * A single `Window.partitionBy(qId)` would shuffle EVERY candidate row
    * of a query into one partition and sort it there: with a huge corpus
    * each per-query partition is an unbounded straggler. Instead:
    *
    *  1. salt each row by `hash(cId) % salts` and take a LOCAL top-k per
    *     (query, salt) — bounded partitions, k rows kept per salt;
    *  2. run the global top-k window over the surviving `≤ salts × k`
    *     rows per query — a trivially small sort.
    *
    * Both phases are `row_number` windows ordered by (cos_sim desc, cId)
    * so results are deterministic under ties. Null scores (zero-norm
    * vectors) sort last and can never enter a top-k that has k real
    * candidates.
    */
  def topKPerQuery(
      scored: DataFrame,
      qId: String, cId: String,
      k: Int,
      salts: Int = 32): DataFrame = {
    // loud preconditions: k = 0 silently empties the frame (looks like
    // an empty index), salts = 0 nulls the pmod and collapses phase 1
    // to the single unsalted partition the salting exists to prevent
    require(k >= 1, s"topKPerQuery needs k >= 1, got $k")
    require(salts >= 1, s"topKPerQuery needs salts >= 1, got $salts")
    // never silently clobber caller data (the Corpus.requireFresh
    // stance, same as assignClusters): the two scratch names are
    // dropped on the way out and "rank" is OVERWRITTEN by the output
    Seq("__salt", "__lr", "rank").find(scored.columns.contains).foreach(c =>
      throw new IllegalArgumentException(
        s"topKPerQuery: input already carries a `$c` column — rename it " +
          "first (the reduction writes __salt/__lr/rank itself)"))
    val wLocal = Window.partitionBy(col(qId), col("__salt"))
      .orderBy(col("cos_sim").desc, col(cId))
    val wGlobal = Window.partitionBy(col(qId))
      .orderBy(col("cos_sim").desc, col(cId))
    scored
      // a NULL score (zero-norm / corrupted vector) is "no similarity",
      // never a neighbor: without this, a query with fewer than k real
      // candidates padded its top-k with phantom null-score rows — and
      // only on the paths that didn't pre-filter (lsh/brute/negatives),
      // diverging from ivf/pq on identical input
      .filter(col("cos_sim").isNotNull)
      .withColumn("__salt", pmod(xxhash64(col(cId)), lit(salts)))
      .withColumn("__lr", row_number().over(wLocal))
      .filter(col("__lr") <= k)
      .drop("__salt", "__lr")
      .withColumn("rank", row_number().over(wGlobal).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact brute-force cosine top-k: for every row of `queries`, the k
    * nearest rows of `corpus` by cosine.
    *
    * The query side is broadcast (ANN query batches are small by nature);
    * the corpus streams through a single narrow pass — at 100 TB this is
    * one full scan, no shuffle of the corpus — and the top-k reduction is
    * the salted two-phase [[topKPerQuery]].
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String,
      cId: String, cVec: String,
      k: Int): DataFrame = {
    // narrow the query side BEFORE broadcasting: a payload column
    // riding next to the embedding (raw text, metadata) would be
    // broadcast whole and replicated onto every corpus row of the
    // cross join — only the id and vector are needed here
    val q = queries.select(col(qId), col(qVec))
    val joined = Balance.widen(corpus).crossJoin(broadcast(q))
      .select(col(qId), col(cId),
        cosine(col(qVec), col(cVec)).as("cos_sim"))
    topKPerQuery(joined, qId, cId, k)
      .select(col(qId), col("rank"), col(cId), col("cos_sim"))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-`k` most cosine-similar corpus rows whose LABEL differs from
    * the query's — the "closest wrong answers" a contrastive or
    * metric-learning objective needs as negatives. Same candidate →
    * salted two-phase top-k shape as [[bruteForceTopK]] with the label
    * predicate applied at candidate generation (before any reduction,
    * so k survivors are guaranteed label-mismatched, no over-fetch
    * heuristics).
    *
    * 100 TB: broadcast queries, corpus streams narrow; swap the cross
    * join for [[probeIvf]]'s bucket-pruned candidates when the corpus
    * is indexed — the label filter composes the same way. */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String, qLabel: String,
      cId: String, cVec: String, cLabel: String,
      k: Int): DataFrame = {
    // narrow before broadcast, same reason as bruteForceTopK
    val q = queries.select(col(qId), col(qVec), col(qLabel))
    val joined = Balance.widen(corpus).crossJoin(broadcast(q))
      // NULL-SAFE mismatch: a null-labeled corpus row trivially differs
      // from any labeled query (and vice versa) — the null-unsafe =!=
      // would evaluate NULL there and silently mine zero negatives for
      // unlabeled queries and skip every unlabeled corpus row
      .filter(!(col(cLabel) <=> col(qLabel)))
      .select(col(qId), col(cId),
        cosine(col(qVec), col(cVec)).as("cos_sim"))
    topKPerQuery(joined, qId, cId, k)
      .select(col(qId), col("rank"), col(cId), col("cos_sim"))
  }

  /** Random-hyperplane LSH: `planes`-bit signature per vector (bit p =
    * sign of <v, h_p>), returned as a `bucket` long
    * ([[graft.expressions.HyperplaneLshBucket]] — plane components derive
    * deterministically from (plane, dim), so no plane matrix is shipped
    * to executors). Cosine-close vectors collide with high probability.
    * Narrow map, no shuffle. */
  def lshBuckets(df: DataFrame, vecCol: String, planes: Int,
      widen: Boolean = true): DataFrame =
    // widen=false for a side that is about to be BROADCAST (a small
    // query batch): widening it would insert a full repartition exchange
    // only for the broadcast to collect it again
    (if (widen) Balance.widen(df) else df).withColumn("bucket",
      call_function("graft_lsh_bucket", col(vecCol), lit(planes)))

  /** LSH-bucketed approximate top-k: exact cosine, but only within
    * matching buckets.
    *
    * Multi-band recall boost: ONE `planes × bands`-bit signature is
    * computed per vector (a single narrow pass), then sliced into
    * `bands` independent `planes`-bit sub-buckets; a (query, candidate)
    * pair is considered if ANY band's sub-buckets collide. Identical
    * vectors share every band deterministically — an exact-duplicate
    * neighbor is therefore ALWAYS found, which is what makes the
    * near-dup-probe query oracle-checkable. The shuffle key is the
    * uniform (band, sub-bucket) hash; the final reduction is the salted
    * two-phase [[topKPerQuery]].
    *
    * `excludeSelf` drops candidates whose id equals the query id (for
    * corpora that contain the query rows themselves).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String,
      cId: String, cVec: String,
      k: Int,
      planes: Int = 10,
      bands: Int = 1,
      excludeSelf: Boolean = false): DataFrame = {
    val total = planes * bands
    // the same guard Dedup.semanticHits puts on the identical machinery:
    // a non-positive bands would make (0 until bands) empty and silently
    // return "no neighbors" instead of failing the precondition
    require(planes > 0 && bands > 0 && total <= 63,
      s"need planes > 0, bands > 0, planes*bands <= 63; got planes=$planes bands=$bands")
    def banded(df: DataFrame, id: String, vec: String,
        widen: Boolean): DataFrame =
      bandSubBuckets(
        lshBuckets(df.select(col(id), col(vec)), vec, total, widen),
        Seq(id, vec), planes, bands)
    val qb = banded(queries, qId, qVec, widen = false) // broadcast below
    val cb = banded(corpus, cId, cVec, widen = true)
    val joined = cb.join(broadcast(qb), Seq("band", "sub"))
    val pairs0 =
      // null-safe: =!= evaluates NULL for a null-id row and would drop
      // every such candidate, not just self-matches
      if (excludeSelf) joined.filter(!(col(cId) <=> col(qId))) else joined
    // a pair colliding in several bands must score once, not `bands`
    // times — but the dedup exchange rides SLIM (id, id, score) rows:
    // scoring first costs one cheap kernel call per collision, where
    // deduplicating first shuffled both full vectors per candidate
    val cand = pairs0
      .select(col(qId), col(cId),
        cosine(col(qVec), col(cVec)).as("cos_sim"))
      .dropDuplicates(qId, cId)
    topKPerQuery(cand, qId, cId, k)
      .select(col(qId), col("rank"), col(cId), col("cos_sim"))
  }

  /** One-or-more Lloyd iterations over the corpus to refine IVF
    * centroids: narrow argmax assignment (centroids inlined as
    * literals), then per-(cluster, dimension) means via posexplode —
    * map-side combined, so the shuffle carries only
    * `nCentroids × dims` partials. Each iteration collects the tiny
    * centroid matrix back to the driver; empty clusters keep their
    * previous centroid. */
  def refineCentroids(
      corpus: DataFrame,
      vecCol: String,
      initial: Seq[Seq[Double]],
      iterations: Int = 2): Seq[Seq[Double]] = {
    // widen once; reused every iteration. Members are L2-NORMALIZED
    // before averaging — assignment is by cosine, so the spherical
    // k-means update is the mean of directions; a raw mean would let
    // large-norm vectors drag the centroid (the resulting centroid need
    // not be re-normalized: cosine argmax is scale-invariant).
    val wide = Balance.widen(corpus)
      .filter(col(vecCol).isNotNull)
      .select(col(vecCol).as("__v"))
      .withColumn("__norm", sqrt(Embeddings.l2NormSq(col("__v"))))
      .filter(col("__norm") > 0.0)
      // every iteration re-reads this projection; cache it for the loop
      // (vectors + one double ≪ the source table — at 100 TB the
      // serialized MEMORY_AND_DISK blocks spill per-executor rather than
      // re-scanning parquet `iterations` times)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    var cents = initial
    try for (_ <- 0 until iterations) {
      val current = cents
      // assignment via the ONE shared argmax ([[withNearestCentroid]]):
      // the refinement step must use the exact tie-break and null
      // handling the index build/probe use, or refined centroids
      // diverge from the lists they will define
      val means = withNearestCentroid(wide, "__v", current, "__cent")
        .select(col("__cent"), col("__norm"),
          posexplode(col("__v")).as(Seq("__d", "__x")))
        .groupBy("__cent", "__d")
        .agg(avg(col("__x") / col("__norm")).as("__m"))
        .collect()
        .groupBy(_.getLong(0).toInt)
        .map { case (cent, rows) =>
          cent -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = current.indices.map(i => means.getOrElse(i, current(i)))
    } finally wide.unpersist(blocking = false)
    cents
  }

  /** Driver-side vector extraction: one definition of the Row-element →
    * Double conversion (Float/Double/other-numeric) shared by every
    * codebook/centroid sampler, so a fix (a new element type, null
    * handling) lands once. */
  private def toDoubleSeq(elems: Seq[Any]): Seq[Double] = elems.map {
    case f: Float => f.toDouble
    case d: Double => d
    case n: java.lang.Number => n.doubleValue
  }.toSeq

  /** Product-quantization codebooks: `kCodes` sample vectors (the
    * corpus's lowest ids — the same deterministic-sample discipline as
    * [[ivfTopK]]'s centroids; k-means-refined codebooks change recall,
    * not the plan), each sliced into `m` contiguous subvectors. Returned
    * flattened `[m][k][dim/m]`, the layout the [[graft.expressions.PqEncode]]
    * kernel consumes. */
  def pqCodebooks(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      kCodes: Int): Seq[Double] = {
    val sample: Seq[Seq[Double]] = corpus
      // element-level nulls too: the kernel nulls such vectors' codes,
      // but the driver-side toDoubleSeq would MatchError on the slot
      .filter(col(vecCol).isNotNull && !exists(col(vecCol), x => x.isNull))
      .orderBy(col(idCol)).limit(kCodes)
      .select(col(vecCol)).collect()
      .map(r => toDoubleSeq(r.getSeq[Any](0))).toSeq
    // a short sample would build a codebook the kernels (which loop
    // ki < kCodes) index out of bounds — fail clearly on the driver
    require(sample.size == kCodes,
      s"pqCodebooks needs >= $kCodes non-null vectors, found ${sample.size}; " +
        "lower kCodes for small corpora")
    val dim = sample.head.length
    require(sample.forall(_.length == dim), "pqCodebooks needs equal-length vectors")
    require(dim % m == 0, s"dim $dim must divide evenly into $m subvectors")
    val sub = dim / m
    // [m][k][sub]: subvector mi of sample ki at (mi*k + ki)*sub
    (0 until m).flatMap { mi =>
      sample.flatMap(v => v.slice(mi * sub, mi * sub + sub))
    }
  }

  /** Lloyd-refine PQ codebooks: the raw lowest-id sample from
    * [[pqCodebooks]] is only as diverse as the corpus's id order — on a
    * clustered corpus it can spend all `kCodes` codes on one region and
    * quantize the rest coarsely. Each iteration runs standard L2 k-means
    * independently in every subspace (the metric [[graft.expressions.PqEncode]]
    * assigns by — NOT the cosine of [[refineCentroids]]; PQ codes are
    * argmin-L2 per subvector, so the update must be the L2 mean), but all
    * `m` subspaces train in ONE distributed pass: encode the training
    * sample with the current codebook (narrow kernel), posexplode
    * dimensions, and average per `(subspace, code, dim)`. Codes that
    * attract no members keep their previous codeword.
    *
    * 100 TB: codebooks train on a BOUNDED deterministic sample
    * (`trainLimit` lowest ids — refining on the full corpus buys nothing
    * once the sample covers the distribution, and keeps each iteration's
    * shuffle + driver collect fixed-size: `m·kCodes·sub = dim·kCodes`
    * doubles regardless of corpus size). */
  def refinePqCodebooks(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      kCodes: Int,
      iterations: Int = 2,
      trainLimit: Int = 4096): Seq[Double] = {
    if (iterations <= 0) return pqCodebooks(corpus, vecCol, idCol, m, kCodes)
    val train = Balance.widen(corpus)
      // element-null rows would encode to NULL codes (null __ki groups
      // NPE the driver collect) and MatchError toDoubleSeq in the seed;
      // a NULL id would land first in the sort, stride into `picks`,
      // never match the isin (null = null is NULL) and NPE the seed map
      .filter(col(idCol).isNotNull &&
        col(vecCol).isNotNull && !exists(col(vecCol), x => x.isNull))
      // ties on id break by content hash: duplicate ids (an
      // at-least-once ingest) would otherwise make BOTH the sampled
      // set and the seed's id->vector map partition-order-dependent —
      // the codebook, codes, and ranks must replay identically
      .orderBy(col(idCol), xxhash64(col(vecCol)))
      .limit(trainLimit)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      // each iteration re-encodes the same bounded sample; keep it hot
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // STRIDED init, not lowest-k: Lloyd cannot separate duplicate
    // centroids (a codeword with no members keeps its old position, and
    // near-identical codewords split one cluster's members instead of
    // covering the space), so seeding with the k lowest ids — which on a
    // clustered corpus may all be ONE cluster — leaves refinement stuck
    // where it started. Striding the sorted training sample is as
    // deterministic and spans whatever diversity the sample has.
    // stride over DISTINCT ids: duplicate ids would collapse picks into
    // duplicate seed codewords — the exact stuck-Lloyd state the strided
    // init exists to avoid
    val ids = train.select(col("__id")).collect().map(_.get(0)).toSeq.distinct
    require(ids.size >= kCodes,
      s"refinePqCodebooks needs >= $kCodes distinct non-null ids, found ${ids.size}; " +
        "lower kCodes for small corpora")
    val picks = (0 until kCodes).map(j => ids(j * ids.size / kCodes))
    // keep the FIRST row per picked id in the (id, hash)-sorted order —
    // deterministic even when one id carries two different vectors
    val byId = scala.collection.mutable.LinkedHashMap.empty[Any, Seq[Double]]
    train.filter(col("__id").isin(picks: _*)).collect().foreach { r =>
      if (!byId.contains(r.get(0)))
        byId(r.get(0)) = toDoubleSeq(r.getSeq[Any](1))
    }
    val seed: Seq[Seq[Double]] = picks.map(byId)
    val dim = seed.head.length
    require(seed.forall(_.length == dim), "refinePqCodebooks needs equal-length vectors")
    require(dim % m == 0, s"dim $dim must divide evenly into $m subvectors")
    val sub = dim / m
    var cb: Seq[Double] = (0 until m).flatMap { mi =>
      seed.flatMap(v => v.slice(mi * sub, mi * sub + sub))
    }
    try for (_ <- 0 until iterations) {
      val means = train
        .withColumn("__codes", call_function("graft_pq_encode",
          col("__v"), typedlit(cb), lit(m), lit(kCodes)))
        .select(col("__codes"), posexplode(col("__v")).as(Seq("__d", "__x")))
        .withColumn("__mi", (col("__d") / sub).cast("int"))
        .select(col("__mi"),
          expr("__codes[__mi]").as("__ki"),
          (col("__d") % sub).cast("int").as("__sd"),
          col("__x").cast("double").as("__x"))
        .groupBy("__mi", "__ki", "__sd")
        .agg(avg(col("__x")).as("__mean"))
        .collect() // bounded: m·kCodes·sub rows = dim·kCodes doubles
      val next = cb.toArray
      means.foreach { r =>
        val mi = r.getInt(0); val ki = r.getInt(1); val sd = r.getInt(2)
        next((mi * kCodes + ki) * sub + sd) = r.getDouble(3)
      }
      cb = next.toSeq
    } finally train.unpersist(blocking = false)
    cb
  }

  /** PQ-encode a vector column: `m` argmin-L2 codes per row against the
    * flattened codebook — a pure narrow kernel map. At 100 TB the coded
    * corpus is what a PQ index STORES: `m` ints per row instead of the
    * full vector (64 floats → 8 codes is a 16–32× working-set cut),
    * which is the point — candidate scans read codes, not vectors. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      codebook: Seq[Double],
      m: Int,
      kCodes: Int): DataFrame =
    Balance.widen(df).withColumn("pq_codes",
      call_function("graft_pq_encode", col(vecCol),
        typedlit(codebook), lit(m), lit(kCodes)))

  /** PQ approximate top-k with exact re-ranking — the standard two-stage
    * PQ search: (1) score every CODED candidate against each query by
    * asymmetric distance (ADC — one narrow kernel pass over codes, the
    * full vectors never stream through this stage), keep each query's
    * `rerank` best via the salted two-phase reduction; (2) join only
    * those candidates back to their true vectors and rank the survivors
    * by exact cosine. An identical twin shares the query's codes and
    * per-subvector argmin codes minimize every ADC term, so the twin
    * always scores the MINIMAL possible ADC and survives re-ranking —
    * the property that makes the probe query oracle-checkable; general
    * recall is spec-tested.
    *
    * 100 TB: stage 1 reads (id, codes) — the 16–32×-smaller coded
    * corpus — broadcast queries, no corpus shuffle; stage 2 touches
    * `rerank × |queries|` rows of the full corpus via a semi-join on id. */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String,
      cId: String, cVec: String,
      k: Int,
      m: Int = 8,
      kCodes: Int = 16,
      rerank: Int = 32,
      excludeSelf: Boolean = false,
      refineIterations: Int = 0): DataFrame = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val cb =
      if (refineIterations > 0)
        refinePqCodebooks(corpus, cVec, cId, m, kCodes, refineIterations)
      else pqCodebooks(corpus, cVec, cId, m, kCodes)
    val coded = pqEncode(corpus, cVec, cb, m, kCodes).select(col(cId), col("pq_codes"))
    val scored0 = coded.crossJoin(broadcast(queries.select(col(qId), col(qVec))))
    val scored1 = // null-safe, same reason as lshTopK
      if (excludeSelf) scored0.filter(!(col(cId) <=> col(qId))) else scored0
    // topKPerQuery ranks cos_sim DESCENDING; negated ADC distance has
    // exactly the right order (closer = larger)
    val cand = topKPerQuery(
      scored1.select(col(qId), col(cId),
        (-call_function("graft_pq_adc", col(qVec), col("pq_codes"),
          typedlit(cb), lit(m), lit(kCodes))).as("cos_sim")),
      qId, cId, rerank)
      .select(col(qId), col(cId))
    // candidates are tiny (rerank × |queries|): BROADCAST them against
    // the corpus so the full-vector side never shuffles
    val exact = corpus.select(col(cId), col(cVec))
      .join(broadcast(cand), Seq(cId))
      .join(broadcast(queries.select(col(qId), col(qVec))), Seq(qId))
      .select(col(qId), col(cId), cosine(col(qVec), col(cVec)).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
    topKPerQuery(exact, qId, cId, k)
      .select(col(qId), col("rank"), col(cId), col("cos_sim"))
  }

  /** Deterministic centroid sample: the `n` lowest-id non-null vectors
    * with zero vectors dropped (a null would NPE the driver-side
    * collect and a zero-norm centroid scores null against everything).
    * Shared by [[ivfTopK]] and the persistent [[indexIvf]]/[[probeIvf]]
    * pair — index build and probe must agree on centroids, and a
    * deterministic sample is reproducible from the corpus alone. */
  def sampleCentroids(
      corpus: DataFrame,
      cId: String, cVec: String,
      n: Int): Seq[Seq[Double]] = corpus
    // usability filters run BEFORE the limit: filtering zero/degenerate
    // vectors after it could return an EMPTY sample from a corpus whose
    // n lowest ids happen to be unusable — and empty centroids turn
    // centroidProbes' sequence(0, -1) into phantom probe ids
    .filter(col(cVec).isNotNull &&
      !exists(col(cVec), x => x.isNull) &&
      Embeddings.l2NormSq(col(cVec)) > 0.0)
    .orderBy(col(cId)).limit(n)
    .select(col(cVec)).collect()
    .map(r => toDoubleSeq(r.getSeq[Any](0))).toSeq

  /** IVF (inverted-file) approximate top-k — the classic coarse-quantize
    * scale path: corpus vectors are assigned to their nearest of
    * `nCentroids` centroid vectors (one inverted list per centroid), and
    * each query searches only its `nProbe` nearest lists.
    *
    * Centroids here are a deterministic corpus sample (lowest ids); a
    * production index would k-means-refine them
    * ([[refineCentroids]]), which changes recall but not the plan shape.
    * That shape is what matters at 100 TB: centroids are COLLECTED
    * (tiny) and inlined as literals, so corpus assignment is a narrow
    * per-row argmax — no window, no corpus shuffle, no pairwise blowup —
    * and the only exchange is the per-query top-k over the candidate set
    * (`~nProbe/nCentroids` of the corpus), reduced by the salted
    * two-phase [[topKPerQuery]].
    *
    * Zero vectors have undefined cosine (null) and drop out of both the
    * index and the probes.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String,
      cId: String, cVec: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      refineIterations: Int = 0): DataFrame = {
    val sampled = sampleCentroids(corpus, cId, cVec, nCentroids)
    require(sampled.nonEmpty, "ivfTopK needs a non-empty corpus with nonzero vectors")
    val cents =
      if (refineIterations > 0)
        refineCentroids(corpus, cVec, sampled, refineIterations)
      else sampled

    val lists =
      withNearestCentroid(Balance.widen(corpus), cVec, cents, "__cent")

    val probes = centroidProbes(queries, qId, qVec, cents, nProbe)

    val cand = lists.join(broadcast(probes), Seq("__cent"))
      .select(col(qId), col(cId), cosine(col(qVec), col(cVec)).as("cos_sim"))
      .filter(col("cos_sim").isNotNull) // zero-vector queries emit nothing
    topKPerQuery(cand, qId, cId, k)
      .select(col(qId), col("rank"), col(cId), col("cos_sim"))
  }

  /** Top-`nProbe` centroid indices per query, one row per (query,
    * probed centroid): sort (−score, index) structs. Null scores
    * (zero-vector queries) map to +∞ so they sort LAST — struct-field
    * nulls would otherwise sort FIRST and a dead centroid would occupy
    * every query's first probe slot. */
  private def centroidProbes(
      queries: DataFrame,
      qId: String, qVec: String,
      cents: Seq[Seq[Double]],
      nProbe: Int): DataFrame = {
    // empty centroids would make idx = sequence(0, -1) = [0, -1] and
    // explode phantom probes for centroid ids -1 and 0 — silently
    // wrong neighbors; nProbe = 0 would slice() everything away and
    // silently return "no neighbors"
    require(cents.nonEmpty, "centroid probing needs at least one centroid")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val scores = array(cents.map(c => cosine(col(qVec), typedlit(c))): _*)
    val idx = sequence(lit(0), lit(cents.length - 1))
    queries
      .withColumn("__scores", scores)
      .withColumn("__cent", explode(transform(
        slice(array_sort(zip_with(col("__scores"), idx,
          (s, i) => struct(coalesce(-s, lit(Double.MaxValue)).as("negs"),
            i.as("i")))), 1, nProbe),
        x => x.getField("i").cast("long"))))
      .select(col("__cent"), col(qId), col(qVec))
  }

  /** Build (or EXTEND) a persistent IVF index over `df`: one
    * `(centroid_id, vec_id, vec)` row per vector, nearest-centroid
    * assignment as a narrow literal-argmax map, stored in a
    * [[graft.pipeline.BucketedStateTable]] keyed on
    * `(centroid_id, vec_id)` but BUCKETED on `centroid_id` — so a probe
    * that knows its `nProbe` centroid ids reads only the matching
    * bucket directories, never the corpus-sized index. Construct as:
    * {{{
    * new BucketedStateTable(spark, path,
    *   keyCols = Seq("centroid_id", "vec_id"),
    *   bucketCols = Seq("centroid_id"))
    * }}}
    * `centroids` must match between indexing and probing (they define
    * the list geometry; the table cannot check this for you — same
    * contract as [[Dedup.indexNearDups]]'s banding parameters). The
    * merge is keyed, so re-ingesting a batch is a no-op: at-least-once
    * ingest converges, and a vector re-submitted with a changed
    * embedding moves list only if its assignment changes (stale row
    * remains under the old centroid — delete first for true updates).
    *
    * Streaming ingest: run it as a [[graft.streaming.ForeachBatch]]
    * body. `foreachBatch` is at-least-once; the merge keyed on
    * `(centroid_id, vec_id)` makes a replayed micro-batch a no-op, so
    * the stream converges without a batch marker, and a vector is
    * searchable by [[probeIvf]] as soon as its batch commits. Centroids
    * stay fixed for the stream's life (re-centroiding is
    * [[reclusterIvf]]).
    *
    * 100 TB: ingest cost is batch-proportional (narrow assignment map +
    * a merge that rewrites only the buckets the batch's centroids hash
    * into); the accumulated index never rescans. */
  def indexIvf(
      index: graft.pipeline.BucketedStateTable,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]]): Unit = {
    require(centroids.nonEmpty, "indexIvf needs at least one centroid")
    val lists =
      withNearestCentroid(
          Balance.widen(df).filter(col(vecCol).isNotNull),
          vecCol, centroids, "centroid_id")
      // id keeps its NATIVE type (as indexEmbeddings does): a silent
      // cast("long") turned non-numeric ids into all-null vec_ids and
      // corrupted the index keys without any error surfacing
      .select(col("centroid_id"), col(idCol).as("vec_id"),
        col(vecCol).as("vec"))
      // pinned around the merge: the assignment is a PROJECTION (the
      // mutation's plan-shape pin heuristic rightly skips it) but its
      // per-row cost is the full argmax over every centroid — without
      // the pin the merge's probe and bucket write each re-run it
      // (the Multimodal.indexPairs discipline)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try index.merge(lists, keys = Seq("centroid_id", "vec_id"))
    finally lists.unpersist()
  }

  /** Re-cluster a persistent IVF index onto NEW centroids — the index
    * maintenance op for centroid drift (a corpus that outgrew the
    * geometry it was indexed under, diagnosed by falling
    * [[recallAtK]] or skewed [[graft.pipeline.BucketedStateTable.stats]]):
    * one lease-guarded full rewrite, assignments recomputed by the
    * same narrow argmax map as [[indexIvf]]. History stays
    * time-travelable (a normal commit). Probes must switch to the new
    * centroids together with the index — they define the list
    * geometry, exactly as at build time. */
  def reclusterIvf(
      index: graft.pipeline.BucketedStateTable,
      centroids: Seq[Seq[Double]]): Unit = {
    require(centroids.nonEmpty, "reclusterIvf needs at least one centroid")
    // read + rewrite as ONE exclusive op: a separate read()-then-replace
    // would silently drop any ingest batch a concurrent writer commits
    // in the gap (the streaming-ingest pattern makes that routine)
    require(centroids.map(_.length).distinct.size == 1,
      "reclusterIvf centroids must share one dimension")
    index.replaceAllTransformed { cur =>
      val total = cur.count()
      val assigned =
        withNearestCentroid(cur.drop("centroid_id"), "vec", centroids,
            "centroid_id")
          .select(col("centroid_id"), col("vec_id"), col("vec"))
      // refuse a SHRINKING rewrite: withNearestCentroid drops rows whose
      // cosine against every centroid is null — with mismatched-dimension
      // centroids that is EVERY row, and the replace would silently
      // commit an empty index (recoverable only via time travel). A
      // well-formed index holds no null/zero vectors, so any drop here
      // is an incompatibility, not data hygiene.
      val kept = assigned.count()
      require(kept == total,
        s"reclusterIvf: nearest-centroid assignment dropped ${total - kept} " +
          s"of $total indexed rows — the new centroids are incompatible " +
          "with the indexed vectors (dimension mismatch or degenerate " +
          "centroids); refusing to commit a shrunken index")
      // the legal stale-row state (one vec_id under two OLD centroids
      // with different embeddings) can collapse onto one new centroid;
      // replaceAll writes rows as-is, so dedupe here or the rewritten
      // index would hold duplicate (centroid_id, vec_id) keys and a
      // probe would return the same vec twice. Deterministic winner:
      // max content hash.
      val w = Window.partitionBy(col("centroid_id"), col("vec_id"))
        .orderBy(xxhash64(col("vec")).desc)
      assigned.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** Query a persistent IVF index built by [[indexIvf]]: each query
    * searches only its `nProbe` nearest lists, read bucket-pruned from
    * the state table. Returns `(qId, rank, vec_id, cos_sim)`.
    *
    * 100 TB: the probe read lists only the bucket directories the
    * probed centroid ids hash into (`readForKeys`), the tiny probe set
    * broadcasts, and the top-k reduction is the salted two-phase
    * [[topKPerQuery]] — no corpus shuffle anywhere. */
  def probeIvf(
      index: graft.pipeline.BucketedStateTable,
      queries: DataFrame,
      qId: String, qVec: String,
      centroids: Seq[Seq[Double]],
      k: Int,
      nProbe: Int,
      excludeSelf: Boolean = false,
      emptyVecIdType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): DataFrame = {
    // probe-side columns ride under RESERVED names through the join:
    // the index slice carries the fixed columns (centroid_id, vec_id,
    // vec), so a caller whose query columns are ALSO named vec/vec_id
    // (the natural choice — it is what the index stores) would
    // otherwise hit AMBIGUOUS_REFERENCE in the cosine/self-filter.
    // qId = "vec_id" stays impossible: the OUTPUT carries both columns
    require(qId != "vec_id",
      "probeIvf: qId cannot be named vec_id — the result carries the " +
        "index's vec_id next to the query id; alias the query id first")
    val probes = centroidProbes(queries, qId, qVec, centroids, nProbe)
      .select(col("__cent").as("centroid_id"),
        col(s"`${qId.replace("`", "``")}`").as("__qid"),
        col(s"`${qVec.replace("`", "``")}`").as("__qvec"))
    val slice = index.read() match {
      case None =>
        // Empty-index schema derives qId from the QUERIES frame (its
        // native type, matching what the populated path's join carries);
        // rank is LONG to match topKPerQuery's row_number().cast(long).
        // A never-written index carries no evidence of the indexed id
        // type, so vec_id takes `emptyVecIdType` — callers indexing
        // non-long ids pass theirs (e.g. StringType) to keep the schema
        // stable across the empty/populated boundary for unionByName
        // and writers.
        return queries.select(col(qId)).limit(0)
          .withColumn("rank", lit(0L))
          .withColumn("vec_id", lit(null).cast(emptyVecIdType))
          .withColumn("cos_sim", lit(0.0))
      case Some(cur) =>
        index.readForKeys(probes.select(col("centroid_id")), cur.limit(0))
    }
    val joined = slice.join(broadcast(probes), Seq("centroid_id"))
    val cand = // null-safe, same reason as lshTopK
      (if (excludeSelf) joined.filter(!(col("vec_id") <=> col("__qid")))
      else joined)
      .select(col("__qid").as(qId), col("vec_id"),
        cosine(col("__qvec"), col("vec")).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
    topKPerQuery(cand, qId, "vec_id", k)
      .select(col(qId), col("rank"), col("vec_id"), col("cos_sim"))
  }

  /** Recall@k diagnostic: how much of the EXACT top-k does an index's
    * answer recover, measured on a deterministic sample of queries — the
    * number a user tunes `nProbe` / `bands` / `rerank` against on THEIR
    * corpus, where planted-twin constructions don't apply.
    *
    * `approx` is any ANN answer carrying `(qId, cId)` rows (extra
    * columns like rank/score are ignored). Ground truth is
    * [[bruteForceTopK]] over the sampled queries only. Per sampled
    * query, recall = |approx ∩ truth| / |truth| (|truth| < k only when
    * the corpus itself is smaller than k); one summary row
    * `(k, n_queries, avg_recall, min_recall)` comes back. Ties at the
    * k-th score count against the index only if it returned neither
    * tied candidate (the standard recall@k caveat — both sides break
    * ties by id, so an index using the same tie-break is never
    * penalized).
    *
    * 100 TB: the brute-force truth pass is the diagnostic's whole cost,
    * and sampling bounds it — `sampleN` queries broadcast against ONE
    * narrow corpus scan; every join after that is sample-sized. */
  def recallAtK(
      approx: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String,
      cId: String, cVec: String,
      k: Int,
      sampleN: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(sampleN > 0, "sampleN must be positive")
    // hash-ordered deterministic sample (no rand(): reruns and
    // cross-engine comparisons must see the same queries). Collected
    // ONCE and rebuilt as a local frame: sampleQ is referenced by two
    // broadcasts, and each would otherwise re-run the full
    // scan-and-top-N job over the queries table
    val sampled = queries.orderBy(xxhash64(col(qId)), col(qId)).limit(sampleN)
    val sampleQ = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(sampled.collect(): _*), sampled.schema)
    // match the ANN paths' contract: every index filters null cosines
    // (a zero-norm vector has no defined direction), so truth must not
    // contain rows the index can never return — a zero-norm query or
    // corpus row would otherwise pin that query's recall to 0 and drag
    // the averages regardless of index quality
    val truth = bruteForceTopK(sampleQ, corpus, qId, qVec, cId, cVec, k)
      .filter(col("cos_sim").isNotNull)
      .select(col(qId), col(cId))
    // prune the index answer to the sampled queries FIRST: after that
    // both intersect sides are sample-bounded (≤ sampleN × per-query
    // answer size), so they broadcast instead of shuffling
    val approxSample = approx.select(col(qId), col(cId)).distinct()
      .join(broadcast(sampleQ.select(col(qId))), Seq(qId), "left_semi")
    val hits = truth.join(broadcast(approxSample), Seq(qId, cId), "left_semi")
    val perQuery = truth.groupBy(col(qId))
      .agg(count(lit(1)).as("__n_truth"))
      // both sides are ≤ sampleN rows; size stats are opaque post-agg,
      // so broadcast explicitly rather than let this plan as a
      // sort-merge join
      .join(broadcast(hits.groupBy(col(qId)).agg(count(lit(1)).as("__n_hit"))),
        Seq(qId), "left")
      .select(col(qId),
        (coalesce(col("__n_hit"), lit(0L)).cast("double") /
          col("__n_truth")).as("recall"))
    perQuery
      .agg(count(lit(1)).as("n_queries"),
        avg(col("recall")).as("avg_recall"),
        min(col("recall")).as("min_recall"))
      .select(lit(k).as("k"), col("n_queries"),
        col("avg_recall"), col("min_recall"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists —
    * the standard score-free way to combine a lexical ranking (BM25)
    * with a semantic one (embedding cosine) in a hybrid retrieval
    * stack: `score(d) = Σ_r 1/(kRrf + rank_r(d))` over the rankers that
    * returned `d`, re-ranked descending (ties by id ascending). Inputs
    * are `(idCol, rankCol)` frames (1-based ranks); RRF deliberately
    * ignores the rankers' raw scores, so incomparable score scales fuse
    * cleanly.
    *
    * 100 TB: the expensive work is the upstream rankers; fusion unions
    * two ALREADY-TOP-K lists — k rows a side whatever the corpus size —
    * and one ≤2k-row aggregate computes the fused score (a union-agg
    * instead of a full-outer join: broadcast hash join does not support
    * full outer, so the join form would plan a pointless sort-merge).
    * The division is the same IEEE double op in any engine, and the
    * output rounds to 6 dp, so fused ranks replay exactly. */
  def rrfFuse(
      a: DataFrame, b: DataFrame,
      idCol: String, rankCol: String,
      k: Int, kRrf: Int = 60): DataFrame = {
    require(k > 0, "k must be positive")
    val side = (df: DataFrame, tag: String) =>
      df.select(col(idCol), col(rankCol).cast("long").as("__rank"),
        lit(tag).as("__side"))
    side(a, "a").unionByName(side(b, "b"))
      .groupBy(col(idCol))
      .agg(
        round(sum(lit(1.0) / (lit(kRrf.toDouble) + col("__rank"))), 6)
          .as("rrf_score"),
        max(when(col("__side") === "a", col("__rank"))).as("rank_lexical"),
        max(when(col("__side") === "b", col("__rank"))).as("rank_semantic"))
      .orderBy(col("rrf_score").desc, col(idCol)).limit(k)
  }

  /** Nearest-centroid assignment as a NARROW literal-argmax map (the
    * [[ivfTopK]] assignment stage, exposed for cluster-balance
    * sampling): each row gains `cluster` = index of the centroid with
    * the highest cosine (first index wins ties; rows whose vector has
    * zero norm — null cosine — are dropped, as in IVF). Zero shuffle,
    * zero UDF: the centroid table rides as a literal array, so the same
    * projection scores a stream unchanged. */
  def assignClusters(
      df: DataFrame, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame = {
    require(cents.nonEmpty, "assignClusters needs at least one centroid")
    // refuse frames already carrying the output columns rather than
    // silently clobbering caller data (the Corpus.requireFresh stance)
    val clash = Seq("cluster", "__scores").filter(df.columns.contains)
    require(clash.isEmpty,
      s"input already has column(s) ${clash.mkString(", ")} — rename them; " +
        "these names are produced by assignClusters")
    withNearestCentroid(df, vecCol, cents, "cluster")
  }

  /** Slice a `planes × bands`-bit sign-LSH `bucket` column into `bands`
    * independent `(band, sub)` sub-bucket rows — the ONE banding layout
    * shared by [[lshTopK]] and the semantic-contamination path in
    * `Dedup` (the 64-bit HASH banding in `Dedup.bandPairs64` is a
    * different layout on purpose: fixed 64/bands width over a full
    * hash, not plane groups). Sharing the slicer means a probe built
    * with one caller can never silently stop colliding with an index
    * built by another. Keeps `keep`, adds `band` + `sub`, drops the
    * packed `bucket`. */
  private[ops] def bandSubBuckets(df: DataFrame, keep: Seq[String],
      planes: Int, bands: Int): DataFrame = {
    val mask = (1L << planes) - 1
    df.select(keep.map(col) :+
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("bucket"), b * planes)
            .bitwiseAND(lit(mask)).as("sub"))): _*)).as("__b"): _*)
      .select(keep.map(col) :+ col("__b.band").as("band") :+
        col("__b.sub").as("sub"): _*)
  }

  /** Nearest-centroid assignment as a named column: cosine argmax over
    * the literal centroid array (first index wins ties), rows with
    * null/zero vectors dropped (their cosine is null, so no argmax) —
    * the ONE definition of IVF list membership, shared by [[ivfTopK]],
    * [[indexIvf]], [[reclusterIvf]] and [[assignClusters]] so
    * tie-breaking and null handling cannot drift between an index
    * build and its probes. */
  private def withNearestCentroid(df: DataFrame, vecCol: String,
      cents: Seq[Seq[Double]], outCol: String): DataFrame = {
    val scores = array(cents.map(c => cosine(col(vecCol), typedlit(c))): _*)
    df.withColumn("__scores", scores)
      .withColumn(outCol,
        (call_function("array_position", col("__scores"),
          array_max(col("__scores"))) - 1).cast("long"))
      .filter(col(outCol).isNotNull)
      .drop("__scores")
  }
}
