package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting
  * (BASELINE.json north-star extensions). All pure column expressions —
  * whole-stage-codegen'd, no UDFs, no shuffle; they scale as a narrow map
  * over however many partitions the scan produces.
  */
object TextAnalysis {

  /** Portable 32-bit content hash — `conv(substring(md5(x),1,8),16,10)`
    * cast to long: the ONE idiom winnow fingerprints and DSIR buckets
    * both replay byte-identically in SQL oracles. Any change here
    * desynchronizes every oracle built on it; that is why there is
    * exactly one definition. */
  private[graft] def portableHash32(c: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")


  /** Marker-word sets per language for the n-gram/stopword language-ID
    * heuristic. Kept deliberately small and disjoint so scores are cheap
    * (one regex pass per language) and the tie-break order is explicit. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is|was)\\b",
    "de" -> "\\b(der|und|die|nicht|das|ist)\\b",
    "fr" -> "\\b(le|la|et|les|une|est)\\b",
    "es" -> "\\b(el|los|una|por|las|este)\\b")

  /** The fused one-pass metrics struct
    * ([[graft.expressions.TextMetrics]]): every scan-derived metric —
    * 4 marker-language scores, codepoint length, token counts, alpha
    * count — from a single kernel call instead of ~10 independent regex
    * passes (r1's dominant `corpus_filter`/`text_langid` cost). Repeated
    * use inside one projection collapses to one evaluation via Spark's
    * subexpression elimination. */
  def metrics(text: Column): Column =
    call_function("graft_text_metrics", text)

  /** Reference regex form of a marker score (the semantics
    * [[metrics]]'s `score_xx` fields implement natively). */
  def markerScore(text: Column, pattern: String): Column =
    size(regexp_extract_all(lower(text), lit(pattern), lit(0))).cast("long")

  /** Language-ID: argmax of marker-word counts with deterministic priority
    * (earlier entry in [[LangMarkers]] wins ties); no markers at all →
    * "und" (undetermined, BCP-47 convention). */
  def langIdScores(df: DataFrame, textCol: Column): DataFrame = {
    val m = metrics(textCol)
    val scored = LangMarkers.foldLeft(df) { case (acc, (lang, _)) =>
      acc.withColumn(s"score_$lang", m.getField(s"score_$lang"))
    }
    val scores   = LangMarkers.map { case (l, _) => col(s"score_$l") }
    val best     = greatest(scores: _*)
    val decision = LangMarkers.foldRight(lit("und")) { case ((l, _), els) =>
      when(col(s"score_$l") === best, lit(l)).otherwise(els)
    }
    scored.withColumn("predicted_lang", when(best === 0, lit("und")).otherwise(decision))
  }

  /** Token count over whitespace runs (the BPE-ish variant is
    * [[tokenCountBpeIsh]]); both are fields of the fused [[metrics]]
    * struct, so selecting several counts costs one text pass. */
  def tokenCount(text: Column): Column =
    metrics(text).getField("n_tokens")

  /** A BPE-flavored tokenizer proxy: words, numbers, and single
    * punctuation marks each count as one token. */
  def tokenCountBpeIsh(text: Column): Column =
    metrics(text).getField("n_bpe_tokens")

  /** Quality metrics: length, alpha ratio, whitespace ratio, mean token
    * length — the standard cheap pre-filters for web-scale corpora.
    * One fused text pass; the ratios are arithmetic on the struct.
    * `alpha_chars` counts Unicode LETTERS (`\p{L}`), not `[a-zA-Z]` —
    * on a multilingual corpus, CJK/Cyrillic/Arabic documents keep a
    * real alpha ratio and survive `alpha_ratio`-based gates instead of
    * being silently dropped as garbage.
    *
    * DEFINITION NOTE — `mean_token_len` is ALPHA chars per token, not
    * characters per token: it is a combined length×letterness signal
    * (a digit/punctuation-heavy document scores LOW by design, which is
    * the prose-ness this gate wants). Do NOT threshold it with
    * Gopher-style mean-WORD-length bounds ([3, 10] over characters);
    * those assume the chars-per-word definition and would reject
    * numeric tables twice over. */
  def qualityMetrics(df: DataFrame, textCol: Column): DataFrame =
    df.withColumn("n_chars_q", metrics(textCol).getField("n_chars"))
      .withColumn("n_tokens", metrics(textCol).getField("n_tokens"))
      .withColumn("alpha_chars", metrics(textCol).getField("alpha_chars"))
      // nullif: an EMPTY document has n_chars = 0, and a bare division
      // crashes the whole scan with DIVIDE_BY_ZERO under ANSI (Spark 4
      // default) — the same guard qualityLogistic and qualityReport
      // already apply; the NULL ratio fails quality gates conservatively
      .withColumn("alpha_ratio",
        round(col("alpha_chars") * lit(1.0) /
          nullif(col("n_chars_q"), lit(0L)), 6))
      .withColumn("mean_token_len",
        round(col("alpha_chars") * lit(1.0) /
          nullif(col("n_tokens"), lit(0L)), 6))

  /** Script order for [[scriptMetrics]]'s dominant-script decision:
    * earlier wins ties (same explicit-priority pattern as
    * [[LangMarkers]]). */
  val Scripts: Seq[String] = Seq("latin", "cyrillic", "cjk", "arabic")

  /** Per-script codepoint counts plus a dominant-script call — the
    * routing signal a multilingual pipeline partitions on (per-script
    * quality thresholds, tokenizer choice). Counts come from the same
    * fused kernel pass as the other metrics; `cjk` covers
    * Han+Hiragana+Katakana+Hangul. A document whose letters are all
    * outside the four tracked scripts (Greek, Thai, …) is "other";
    * no letters at all is "none". */
  def scriptMetrics(df: DataFrame, textCol: Column): DataFrame = {
    val m = metrics(textCol)
    val withCounts = df
      .withColumn("alpha_chars", m.getField("alpha_chars"))
      .withColumn("latin_chars", m.getField("latin_chars"))
      .withColumn("cyrillic_chars", m.getField("cyrillic_chars"))
      .withColumn("cjk_chars", m.getField("cjk_chars"))
      .withColumn("arabic_chars", m.getField("arabic_chars"))
    val counts = Scripts.map(sc => col(s"${sc}_chars"))
    val best = greatest(counts: _*)
    val decision = Scripts.foldRight(lit("other")) { case (sc, els) =>
      when(col(s"${sc}_chars") === best, lit(sc)).otherwise(els)
    }
    withCounts.withColumn("dominant_script",
      when(col("alpha_chars") === 0, lit("none"))
        .when(best === 0, lit("other"))
        .otherwise(decision))
  }

  /** Quality-filter cascade with REASONS: every document annotated with
    * the comma-joined list of gates it fails (`fail_reasons`, "" = clean)
    * plus the resulting `keep` flag — the debuggable form of
    * `corpus_filter`. When a mixture suddenly loses 40% of a source, the
    * reason histogram says WHICH gate did it; a bare boolean filter
    * cannot. Gates (all from the fused one-pass kernels, thresholds on
    * 6-dp-rounded ratios so engines agree): low_alpha, too_short,
    * too_long, repetitive, wrong_lang — reason order is fixed, so the
    * string is deterministic. */
  def filterReasons(
      df: DataFrame,
      textCol: Column,
      targetLangs: Seq[String] = Seq("en", "de"),
      minTokens: Long = 10L,
      maxTokens: Long = 1000L): DataFrame = {
    val scored = langIdScores(qualityMetrics(df, textCol), textCol)
    val st = call_function("graft_ngram_stats", textCol, lit(2))
    val d2 = round(st.getField("n_distinct") * lit(1.0) /
      st.getField("n_grams"), 6)
    val reasons = concat_ws(",",
      when(col("alpha_ratio") < 0.6, lit("low_alpha")),
      when(col("n_tokens") < minTokens, lit("too_short")),
      when(col("n_tokens") > maxTokens, lit("too_long")),
      when(d2 < 0.3, lit("repetitive")),
      when(!col("predicted_lang").isin(targetLangs: _*), lit("wrong_lang")))
    scored.withColumn("fail_reasons", reasons)
      .withColumn("keep", col("fail_reasons") === "")
  }

  /** Top-`k` most characteristic terms per document by tf-idf, scored
    * with the LOG-FREE variant `score = tf · (N+1)/(df+1)` — monotone in
    * the same quantities as `tf · idf` but computed entirely with
    * integer arithmetic and one IEEE division, which are CORRECTLY
    * ROUNDED and therefore bitwise identical across engines. (`ln` is
    * only 1-ulp accurate; with millions of near-tied scores per corpus
    * a log-based score WILL eventually flip a rank between engines —
    * see the `text_quality_logistic` threshold note.) Terms are the
    * non-empty whitespace tokens; ties break ascending by term.
    *
    * Returns `(idCol, rank, term, score)` with score rounded to 6 dp,
    * `rank` 1-based.
    *
    * 100 TB: tf is one map-side-combined shuffle on (doc, term); df is
    * a second, much smaller one on term (input already one row per
    * (doc, term)). The df join back is keyed on term — Zipf-skewed by
    * construction (a stopword's key carries one row per document it
    * appears in) — which is exactly the shape AQE skew-join splitting
    * handles; the alternative (broadcast df) dies at 100 TB vocabulary
    * size, so the shuffle join is the right default. The per-document
    * rank-≤-k filter plans as a partial WindowGroupLimit below the
    * final shuffle (plan-asserted), so the full scored stream is
    * top-k-pruned map-side. */
  def tfidfTopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    val NCol = "__graft_n_docs"
    // Corpus size N (ALL documents — empty-text ones count toward idf) as
    // a one-row broadcast joined into the scoring plan, NOT an eager
    // `df.count()`: the eager count was a second full-corpus action — a
    // zero-column scan, but at 100 TB still a complete extra job and
    // scheduler round-trip before the real query could start. As a
    // broadcast subtree it executes inside the SAME job, scans no data
    // columns, and AQE overlaps it with the tf shuffle's map stage.
    val n = df.agg(count(lit(1)).as(NCol))
    val toks = df.select(col(idCol),
      explode(filter(split(coalesce(col(textCol), lit("")), "\\s+"),
        t => t =!= "")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      // tf casts to double BEFORE the multiply: a long·long product
      // tf·(N+1) wraps negative past 2^63 (N ≈ 1e11 documents × a
      // degenerate tf ≈ 1e8 — the file's own stated regime), ranking
      // the document's most characteristic term LAST. For products
      // under 2^53 the double multiply is exact, so scores stay
      // bitwise identical to the long form everywhere it was correct.
      .withColumn("score",
        (col("tf").cast("double") * (col(NCol) + lit(1L))) /
          (col("df") + lit(1L)))
      .drop(NCol)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"),
        round(col("score"), 6).as("score"))
  }

  /** BM25 lexical retrieval: score every document against a fixed query
    * term set and return the top `k` by the Okapi BM25 formula
    * (Robertson/Spärck Jones; the standard of-the-shelf retrieval
    * baseline a RAG pipeline runs before any embedding model):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * Ordering and the top-k boundary use the 6-dp ROUNDED score (then id
    * ascending) — `ln` is 1-ulp accurate, so a raw-score boundary could
    * admit different documents across engines (same discipline as the
    * `text_quality_logistic` threshold). Documents containing no query
    * term are excluded (score 0 carries no ranking information).
    *
    * 100 TB: tokenize + explode is narrow, and rows are filtered to the
    * QUERY terms before the only shuffle (a map-side-combined aggregate
    * on doc id — uniform key, no skew), so the shuffled volume is the
    * query terms' posting lists, not the corpus. N/avgdl/df are tiny
    * driver scalars inlined as literals (three small jobs), and the
    * final top-k plans as `TakeOrderedAndProject` — per-partition heads
    * + a k-row driver merge, never a global sort. */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = filter(split(coalesce(col(textCol), lit("")), "\\s+"),
      t => t =!= "")
    // N and avgdl over ALL documents (including empty ones) — two driver
    // scalars from one small aggregate job
    val stats = df.agg(
      count(lit(1)).as("n"),
      avg(size(toks).cast("long")).as("avgdl")).first()
    val nDocs = stats.getLong(0)
    // avg over an empty frame is SQL NULL; any positive stand-in works —
    // the per-doc frame is empty and the top-k returns no rows
    val avgdl = if (stats.isNullAt(1)) 1.0 else stats.getDouble(1)
    // per-document dl + per-query-term tf: explode filtered to the query
    // terms pre-shuffle; dl rides along (computed narrowly pre-explode).
    // tf columns are INDEX-aliased — a term is data, not a safe column
    // name (dots/backticks would break resolution, duplicates would
    // double-count)
    val terms = queryTerms.distinct
    val perDoc = df
      .select(col(idCol), size(toks).cast("long").as("__dl"),
        explode(toks).as("__term"))
      .filter(col("__term").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(max(col("__dl")).as("__dl"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("__term") === t, 1L).otherwise(0L)).as(s"__tf_$i")
        }: _*)
    bm25Rank(perDoc, idCol, terms.size, nDocs, avgdl, k, k1, b)
  }

  /** Per-term document frequencies + the Okapi score expression + the
    * rounded top-k — SHARED by [[bm25TopK]] and [[incrementalBm25TopK]]
    * so their bit-for-bit score parity (and the one SQL oracle both
    * keys replay) is structural, not maintained by duplication.
    * `perDoc` carries `__dl` and index-aliased `__tf_i` columns.
    * Operation order matches the SQL oracle exactly: both engines run
    * identical IEEE double arithmetic, so only ln's 1-ulp (handled by
    * the 6-dp rounding) separates them. */
  private def bm25Rank(perDoc: DataFrame, idCol: String, nTerms: Int,
      nDocs: Long, avgdl: Double, k: Int, k1: Double, b: Double): DataFrame = {
    // per-term document frequencies as a 1-row BROADCAST frame, not a
    // driver first(): the eager collect was a second action over the
    // unpersisted perDoc plan, re-running the whole corpus tokenize +
    // explode + aggregate (exchange reuse does not span actions) — as
    // a broadcast branch of ONE plan, ReuseExchange shares perDoc's
    // aggregation exchange between the dfreq row and the scoring scan.
    // Arithmetic parity with the old driver form (and the SQL oracle):
    // counts sit far below 2^53, so double subtraction == exact long
    // subtraction, and column log() is the same Math.log.
    val dfreqAggs = (0 until nTerms).map(i =>
      sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val dfreqRow = perDoc.agg(dfreqAggs.head, dfreqAggs.tail: _*)
    val score = (0 until nTerms).map { i =>
      // sums over an EMPTY per-doc frame (no document contains any
      // query term) are SQL NULL — treat as df = 0 (the frame is empty
      // anyway, so the top-k is empty either way)
      val dfc = coalesce(col(s"__df_$i"), lit(0L)).cast("double")
      val idf = log((lit(nDocs.toDouble) - dfc + lit(0.5)) /
        (dfc + lit(0.5)) + lit(1.0))
      val tf = col(s"__tf_$i").cast("double")
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / avgdl))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(dfreqRow))
      .select(col(idCol), round(score, 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Index `df`'s term postings for [[incrementalBm25TopK]] — the
    * retrieval member of the persistent-incremental-state family
    * (exact dedup seen-set, near-dup band index, embedding LSH, IVF,
    * cross-modal pairs): `postings` holds `(term, doc_id, tf, dl)`
    * keyed `(term, doc_id)` and BUCKETED by `term`, so a query reads
    * ONLY its terms' buckets; `docLengths` holds `(doc_id, dl)` keyed
    * on the id — the corpus stats (N, avgdl) that BM25 needs over ALL
    * documents, including ones containing no indexed query term.
    *
    * Both writes are KEYED merges, so re-ingesting a batch
    * (at-least-once replay) is a no-op — no accumulator rows that
    * could double-count. Tokenization is byte-identical to
    * [[bm25TopK]] (whitespace split, empties dropped, null → empty),
    * which is what makes incremental == batch exact.
    *
    * Streaming ingest: run it as a [[graft.streaming.ForeachBatch]]
    * body. `foreachBatch` is at-least-once; a replayed micro-batch
    * recomputes identical rows and every merge is a no-op, and N and
    * avgdl derive from the keyed length table, so there is nothing to
    * double-count. The optional `stats` row (n_docs, sum_dl) is
    * anchored to the docLengths commit it reflects and maintained from
    * that table's change feed, so it needs no extra guard either: a
    * replayed batch diffs to zero, and a crash between an ingest's
    * lengths and stats commits heals on the next ingest (or in memory
    * at query time) by folding the missed window from the feed.
    *
    * APPEND-ONLY ids, the whole family's contract ([[NearDupStream]]
    * et al.: "ids unique across index ∪ stream"): re-ingesting an id
    * with the SAME text replays harmlessly, but re-ingesting an id
    * with CHANGED text leaves the old text's postings for terms the
    * new text no longer contains (a keyed merge cannot see them —
    * they live in other term buckets). Mutable documents need a
    * delete-then-reingest through a doc→terms side table, not this
    * index.
    *
    * 100 TB: tokenize+explode is narrow; the postings aggregate
    * map-side-combines on (term, doc_id); the merge rewrites only the
    * buckets the batch's terms hash into. Zipf skew is inherent to
    * exact BM25 — a stopword's posting list is corpus-proportional
    * (its idf ≈ 0; production term sets drop stopwords or cap df
    * upstream), while informative terms' lists stay short. */
  def indexPostings(
      postings: graft.pipeline.BucketedStateTable,
      docLengths: graft.pipeline.BucketedStateTable,
      df: DataFrame,
      idCol: String,
      textCol: String,
      stats: Option[graft.pipeline.BucketedStateTable] = None): Unit = {
    val toks = filter(split(coalesce(col(textCol), lit("")), "\\s+"),
      t => t =!= "")
    // pin the tokenized batch once: each merge below evaluates its
    // updates twice (dirty-bucket probe + the bucket write), so an
    // uncached frame would re-scan and re-tokenize the corpus text
    // four times per ingest
    val withDl = df.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        col("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // Running (n_docs, sum_dl) — the two scalars BM25 needs for
      // N/avgdl — ANCHORED to the docLengths commit that produced them
      // (`as_of_commit`) and maintained from the table's own CHANGE
      // FEED, so the query path never aggregates the corpus-cardinality
      // docLengths table (at 100 B documents that is a billions-row
      // scan per query to produce two numbers that change only on
      // ingest). The delta for this ingest is
      // changesBetween(as_of, postMergeCommit) — bucket-pruned by the
      // manifests to exactly the buckets the merge rewrote. The anchor
      // makes the two-commit bookkeeping CRASH-CONSISTENT, not merely
      // replay-idempotent: a crash between the docLengths merge and the
      // stats merge leaves the row anchored at the older commit, and
      // the next ingest (or the query-side staleness fold in
      // [[incrementalBm25TopK]]) folds the missed window from the
      // change feed instead of losing it forever. A replayed ingest
      // whose stats already landed sees a value-identical rewrite —
      // delta 0. An anchor that fell out of retention (or predates a
      // rebucket) resyncs from one full aggregate, loudly-degrading
      // exactly like the feed itself. Single-ingestor contract, as for
      // the whole incremental family.
      val lengths = withDl.select(col("doc_id"), col("dl"))
      // The postings merge's data phase (dirty probe + the postings
      // aggregate + bucket write — the ingest's most expensive leg)
      // runs CONCURRENTLY with the docLengths/stats chain below (guide
      // §2.6: the three tables' jobs were only sequential because this
      // method called them sequentially). Its manifest PUBLISH waits on
      // the gate, preserving the commit ORDER contract exactly: lengths,
      // then stats, then postings — a query resolves its postings slice
      // first, so every doc it can see is already in the committed
      // stats (the same mid-ingest honesty as before), and a failure
      // anywhere in the lengths/stats chain aborts the gate so the
      // postings table never moves ahead of its siblings.
      graft.pipeline.MutationOverlap.withGatedMutation(gate =>
        postings.mergeAwaitingPublish(
          withDl.select(col("doc_id"), col("dl"),
              explode(col("__toks")).as("term"))
            .groupBy(col("term"), col("doc_id"))
            .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl")),
          keys = Seq("term", "doc_id"), gate)) {
        docLengths.merge(lengths, keys = Seq("doc_id"))
        // stats commit AFTER lengths but BEFORE postings (see above)
        stats.foreach { st =>
          val spark = df.sparkSession
          import spark.implicits._
          // lastOption: an EMPTY first-ever ingest commits nothing (merge
          // no-ops on an empty dirty set), so a fresh table has no commit
          // and .last would crash a harmless no-op batch
          docLengths.commits().lastOption.foreach { dlCommit =>
            val cur = readStatsRow(st)
            if (!cur.exists(_._3 == dlCommit)) {
              val next: (Long, Long) = cur match {
                case Some((n0, s0, c0)) =>
                  statsDeltaFromChanges(docLengths, c0, dlCommit)
                    .map { case (dn, ds) => (n0 + dn, s0 + ds) }
                    .getOrElse(fullDlAggregate(docLengths))
                case None => fullDlAggregate(docLengths)
              }
              st.merge(
                Seq(("bm25", next._1, next._2, dlCommit))
                  .toDF("stat", "n_docs", "sum_dl", "as_of_commit"),
                keys = Seq("stat"))
            }
          }
        }
      }
    } finally withDl.unpersist()
  }

  /** The running-stats row `(n_docs, sum_dl, as_of_commit)`, when the
    * table has one under the anchored schema. A pre-anchor (3-column)
    * row reads as None — its consumer resyncs from the full aggregate
    * and the next merge widens the table (additive schema evolution). */
  private def readStatsRow(
      st: graft.pipeline.BucketedStateTable): Option[(Long, Long, Long)] =
    st.read()
      .filter(_.columns.contains("as_of_commit"))
      .flatMap(_.filter(col("stat") === "bm25")
        .select(col("n_docs"), col("sum_dl"), col("as_of_commit"))
        .collect().headOption)
      .filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** `(Δn_docs, Δsum_dl)` of the docLengths table between two retained
    * commits, from the change feed (bucket-pruned: unchanged buckets
    * are never read). None when the window cannot be diffed — the
    * from-commit fell out of retention or predates a rebucket — which
    * callers treat as a full-aggregate resync. */
  private def statsDeltaFromChanges(
      docLengths: graft.pipeline.BucketedStateTable,
      fromCommit: Long, toCommit: Long): Option[(Long, Long)] =
    try {
      val r = docLengths.changesBetween(fromCommit, toCommit).agg(
        coalesce(sum(
          when(col("change_type") === "insert", 1L)
            .when(col("change_type") === "delete", -1L)
            .otherwise(0L)), lit(0L)).as("dn"),
        coalesce(sum(
          when(col("change_type").isin("insert", "update_postimage"), col("dl"))
            .when(col("change_type").isin("delete", "update_preimage"), -col("dl"))
            .otherwise(lit(0L))), lit(0L)).as("ds")).first()
      Some((r.getLong(0), r.getLong(1)))
    } catch {
      case _: NoSuchElementException => None // fromCommit pruned
      case _: IllegalArgumentException => None // layout refusal (handle)
      // the cross-relayout refusal (`changesBetween` over a boundary
      // that is not a split/coalesce chain) throws IllegalStateException
      // — the exact case the docstring's "predates a rebucket resyncs
      // from one full aggregate" contract exists for
      case _: IllegalStateException => None
    }

  private def fullDlAggregate(
      docLengths: graft.pipeline.BucketedStateTable): (Long, Long) = {
    val row = docLengths.read()
      .map(_.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("s")).first())
    (row.map(_.getLong(0)).getOrElse(0L),
      row.map(_.getLong(1)).getOrElse(0L))
  }

  /** Incremental BM25 top-k against a corpus indexed by
    * [[indexPostings]] — identical scores to [[bm25TopK]] over the same
    * ingested corpus (same tokenization, same operation order in the
    * score expression, same 6-dp rounded ordering), but the query reads
    * ONLY the posting buckets its terms hash into
    * ([[graft.pipeline.BucketedStateTable.readForKeys]]) plus — when a
    * `stats` table is wired — the single running (n_docs, sum_dl) row
    * for N/avgdl, so query cost tracks the query terms' posting lists,
    * never corpus cardinality. Without a stats row the fallback is one
    * aggregate over the compact (doc_id, dl) table. Document
    * frequencies are exact: the bucket slice holds every posting of
    * the probed terms. */
  def incrementalBm25TopK(
      postings: graft.pipeline.BucketedStateTable,
      docLengths: graft.pipeline.BucketedStateTable,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      stats: Option[graft.pipeline.BucketedStateTable] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val terms = queryTerms.distinct
    // the empty shape mirrors the INDEX's real schema when one exists
    // (string vs long ids must not differ between the empty and
    // populated paths); the typed default covers the never-seeded case
    val like = postings.read().map(_.limit(0)).getOrElse(
      Seq.empty[(String, Long, Long, Long)]
        .toDF("term", "doc_id", "tf", "dl"))
    // resolve the postings slice BEFORE the length table: ingest
    // commits lengths first, so every doc visible in the slice is
    // already counted in N/avgdl — a concurrent ingest can only add
    // docs whose postings are not yet visible (they exist in the
    // corpus; scoring against their N is the honest mid-ingest view)
    val slice = postings.readForKeys(terms.toDF("term"), like)
      .filter(col("term").isin(terms: _*)) // a bucket may hold other terms
    val perDoc = slice.groupBy(col("doc_id"))
      .agg(max(col("dl")).as("__dl"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"__tf_$i")
        }: _*)
    // N/avgdl: prefer the running (n_docs, sum_dl) row maintained by
    // [[indexPostings]] — two scalars from a one-bucket table, so query
    // cost tracks the query terms alone instead of aggregating the
    // corpus-cardinality docLengths table per query. The row is
    // anchored to the docLengths commit it reflects; when the table has
    // moved past the anchor (an ingest crashed between its two
    // bookkeeping commits), the missed window folds in from the change
    // feed IN MEMORY — bucket-pruned, usually empty, never committed by
    // a read path. Fall back to the full aggregate when no anchored row
    // exists or the window is no longer diffable.
    val fromRunning: Option[(Long, Double)] = stats
      .flatMap(readStatsRow)
      .flatMap { case (n0, s0, c0) =>
        docLengths.commits().lastOption match {
          case Some(c) if c != c0 =>
            statsDeltaFromChanges(docLengths, c0, c)
              .map { case (dn, ds) => (n0 + dn, s0 + ds) }
          case _ => Some((n0, s0))
        }
      }
      .map { case (n, s) =>
        (n, if (n > 0) s.toDouble / n else 1.0) }
    val (nDocs, avgdl) = fromRunning.getOrElse {
      val statsRow = docLengths.read().map(_.agg(
        count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).first())
      (statsRow.map(_.getLong(0)).getOrElse(0L),
        statsRow.filter(!_.isNullAt(1)).map(_.getDouble(1)).getOrElse(1.0))
    }
    bm25Rank(perDoc, "doc_id", terms.size, nDocs, avgdl, k, k1, b)
  }

  /** Bigram language-model quality score — the CCNet/Wikipedia-LM shape
    * of corpus quality filtering: train a token-bigram unigram-smoothed
    * model ON the corpus itself, then score each document by its mean
    * negative log-likelihood per bigram (low = looks like the corpus,
    * high = outlier/garbage). Add-one smoothing over the observed
    * vocabulary: P(g) = (count(g) + 1) / (T + V) with T total and V
    * distinct bigram occurrences corpus-wide. Emits
    * `(id, n_bigrams, nll)` (6-dp) for every document with ≥ 1 bigram
    * (< 2 tokens ⇒ no signal, excluded — [[ngramList]] semantics).
    *
    * 100 TB: training is one map-side-combined count per bigram (the
    * `text_bpe_pairs` aggregate); T and V are driver scalars. Scoring
    * joins each document's bigrams back on the bigram key — Zipf-skewed
    * by construction, the AQE-skew-join shape (a 100 TB bigram
    * vocabulary does not broadcast; same stance as [[tfidfTopK]]'s df
    * join) — then one aggregate on doc id. */
  def lmBigramScore(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val grams = df.select(col(idCol),
      explode(ngramList(col(textCol), 2)).as("__g"))
    // eager localCheckpoint: the T/V scalars below AND the scoring join
    // both read the model; without materialization each would re-run
    // the full corpus tokenize+explode+aggregate (the two subtrees
    // don't qualify for ReuseExchange), tripling the corpus passes
    val model = grams.groupBy(col("__g")).agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(true)
    val tv = model.agg(sum(col("__cnt")).as("t"),
      count(lit(1)).as("v")).first()
    // an all-short corpus has no bigrams: sum is SQL NULL; the result is
    // empty either way, but the literals must still build
    val tTot = if (tv.isNullAt(0)) 0L else tv.getLong(0)
    val vSize = tv.getLong(1)
    val denom = math.max(1L, tTot + vSize).toDouble
    grams.join(model, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        avg(-log((col("__cnt") + 1.0) / denom)).as("__nll"))
      .select(col(idCol), col("n_bigrams"), round(col("__nll"), 6).as("nll"))
  }

  /** Document fingerprint: md5 over whitespace-normalized, TRIMMED,
    * lowercased text — the exact-dedup key. The trim matters: trailing
    * newlines are pervasive in crawled text, and without it a page and
    * its trailing-newline twin — the most common trivial duplicate —
    * hash apart. */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** All `n`-token shingles of a text, duplicates KEPT (unlike
    * [[Dedup.shingleSet]], which is a set) — the column-expression
    * reference form of the [[ngramDistinctRatio]] kernel's total/
    * distinct counts (parity spec). Texts shorter than `n` tokens
    * yield one shingle of all tokens. */
  def ngramsWithDuplicates(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Repetition ratio (Gopher-style quality signal): distinct n-grams /
    * total n-grams. Near 1 for natural text; collapses toward 0 for
    * boilerplate and degenerate repetition — the cheap filter that
    * catches templated/spammy documents dedup misses. Kernel-backed
    * ([[graft.expressions.NgramStats]]): one pass, narrow, no shuffle. */
  def ngramDistinctRatio(text: Column, n: Int): Column = {
    val st = call_function("graft_ngram_stats", text, lit(n))
    round(st.getField("n_distinct") * lit(1.0) / st.getField("n_grams"), 6)
  }

  /** All `n`-token grams, duplicates kept, shorter-than-n texts empty —
    * the multiset a tokenizer-training pair count consumes
    * ([[graft.expressions.NgramListExpr]] kernel: one pass, narrow). The
    * semantic differs from [[ngramsWithDuplicates]] on short texts
    * deliberately: a 1-token document has no adjacent pair and must
    * contribute nothing to merge statistics. */
  def ngramList(text: Column, n: Int): Column =
    call_function("graft_ngram_list", text, lit(n))

  /** Composed logistic document-quality score — the shape of a distilled
    * fasttext-style quality classifier: fixed weights over the fused
    * text metrics (alpha ratio, log-length, 2-gram repetition). All
    * inputs come from single-pass kernels, the score is a narrow
    * codegen'd expression, and every operation (including `exp`) is
    * bitwise-reproducible against the SQL oracle form — but since
    * `exp`/`ln` are only 1-ulp accurate (not correctly rounded), keep
    * thresholds must be applied to the ROUNDED score on both engines.
    *
    * quality = sigmoid(-2.0 + 2.5·alpha_ratio + 0.5·ln(1+n_tokens)
    *                        + 1.0·distinct_2gram_ratio)
    */
  def qualityLogistic(text: Column): Column = {
    val m  = metrics(text)
    val st = call_function("graft_ngram_stats", text, lit(2))
    val alphaRatio = m.getField("alpha_chars") * lit(1.0) /
      nullif(m.getField("n_chars"), lit(0L))
    val lnTok = log(lit(1.0) + m.getField("n_tokens"))
    val d2 = st.getField("n_distinct") * lit(1.0) / st.getField("n_grams")
    val z = lit(-2.0) + lit(2.5) * alphaRatio + lit(0.5) * lnTok + lit(1.0) * d2
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** BPE merge training — the iterative step `text_bpe_pairs` is one
    * round of: count adjacent token pairs corpus-wide, take the top
    * pair (count DESC, then pair string ASC — the deterministic
    * tie-break), fuse every left-to-right non-overlapping occurrence
    * into one token, recount. Returns the learned merge table
    * `(merge_step, pair, n)` for `merges` rounds — the same
    * driver-loop-over-distributed-aggregate shape as
    * [[Learn.fitLogistic]] (k tiny driver scalars, k corpus passes).
    *
    * Token sequences are carried as one sentinel-delimited string per
    * document (`\u0001tok\u0001\u0001tok\u0001…`): the merge is then a
    * single codegen'd `replace` of `␁a␁␁b␁` with `␁a b␁` — sentinels
    * make token boundaries explicit so a pair can never match inside a
    * longer token, and `replace`'s left-to-right non-overlapping scan
    * IS the classic BPE merge order (`a a a` merges once). Merged
    * tokens keep an interior space; pair strings stay space-joined.
    *
    * 100 TB: k merges = k (narrow map → map-side-combined pair count →
    * top-1) passes; only the pair count shuffles, and the per-round
    * state is persisted serialized and replaced, never accumulated.
    * Production tokenizer training runs this over a sampled slice of
    * the corpus — the loop shape is identical, `docs` is just smaller. */
  def bpeMerges(docs: DataFrame, textCol: Column, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, textCol, merges)
      .map { case (step, l, r, n) => (step, l + " " + r, n) }
      .toDF("merge_step", "pair", "n")
  }

  /** The typed training loop behind [[bpeMerges]]: one learned merge is
    * `(step, left, right, count)` with left/right kept SEPARATE — the
    * space-joined pair string is ambiguous once merged tokens carry
    * interior spaces ("a a a" could split either way), and [[bpeEncode]]
    * must replay each merge exactly. */
  def bpeTrain(
      docs: DataFrame, textCol: Column,
      merges: Int): Seq[(Int, String, String, Long)] = {
    val S = "\u0001"
    import org.apache.spark.storage.StorageLevel
    var state = docs.filter(textCol.isNotNull)
      // tokens CONTAINING the U+0001 sentinel are excluded from pair
      // counting: joined unescaped they would forge phantom token
      // boundaries ("a\u0001b" reads back as two tokens), skewing
      // which merge wins — and the encoder kernel (whitespace
      // tokenization) would then disagree with training on the same
      // corpus. Control-char tokens are crawl garbage; dropping them
      // from TRAINING (encoding still handles them like any token)
      // keeps the learned merges well-defined.
      .select(concat(lit(S), array_join(
        filter(split(trim(textCol), "\\s+"), t => !t.contains(S)), S + S),
        lit(S)).as("s"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // Each round runs exactly ONE action: its top-pair collect. That
    // collect is also what materializes the round's persisted state (the
    // cache fills inside the same job), so the PREDECESSOR round's
    // blocks are released only after the collect has run — a dedicated
    // per-round `count()` materializer would double the action count.
    var prev: Option[DataFrame] = None
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    // try/finally: a mid-round collect failure must not leak up to two
    // persisted corpus-sized frames into the session (the Dedup-file
    // discipline; indexPostings/unigramTrain here already follow it)
    try {
    while (step <= merges && !exhausted) {
      // fused pair extraction ([[graft.expressions.BpeAdjacentPairs]]):
      // replicates strip-one-sentinel + split(S+S, limit -1) + adjacent
      // pairing (empty under two tokens = the old size >= 2 filter) in
      // one kernel pass — the Column form walked an interpreted
      // transform/element_at lambda per pair, per training round
      val top = state
        .select(explode(
          call_function("graft_bpe_adjacent_pairs", col("s"))).as("p"))
        .select(col("p.l").as("l"), col("p.r").as("r"),
          concat(col("p.l"), lit(" "), col("p.r")).as("pair"))
        .groupBy(col("l"), col("r"), col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"), col("l"))
        .limit(1).collect()
      // `state` is materialized now; its predecessor can finally go
      prev.foreach(_.unpersist())
      prev = None
      if (top.isEmpty) exhausted = true
      else {
        val (l, r) = (top.head.getAs[String]("l"), top.head.getAs[String]("r"))
        learned += ((step, l, r, top.head.getAs[Long]("n")))
        if (step < merges) { // the last round's merge result is never read
          val next = state
            .select(call_function("replace", col("s"),
              lit(S + l + S + S + r + S), lit(S + l + " " + r + S)).as("s"))
            .persist(StorageLevel.MEMORY_AND_DISK_SER)
          prev = Some(state)
          state = next
        }
        step += 1
      }
    }
    } finally {
      prev.foreach(_.unpersist(blocking = false))
      state.unpersist(blocking = false)
    }
    learned.toSeq
  }

  /** Apply an ORDERED learned merge list — the ENCODE half of tokenizer
    * training ([[bpeTrain]] learns the merges, this tokenizes the
    * corpus with them) — as ONE codegen'd kernel expression
    * ([[graft.expressions.BpeApply]]) holding the whole merge list as a
    * single reference object: training costs k corpus passes, but
    * encoding is a single narrow pass whose PLAN is O(1) in merge-list
    * size (the previous composed-`replace` formulation nested one
    * expression per merge — a 32k-vocab tokenizer would be thousands of
    * expressions deep and blow codegen limits). Semantics are the
    * sequential-global-replace replay, spec'd identical to the
    * reference fold. Returns the input plus `bpe_tokens` (the token
    * array, merged tokens keeping interior spaces) and `n_bpe_tokens`.
    *
    * 100 TB: the plan shape is the point — the encode lives in the
    * scan projection, composing with pushdown/pruning and streaming
    * sources; joining a merge TABLE instead would shuffle the corpus
    * once per merge rank batch. */
  def bpeEncode(
      df: DataFrame, textCol: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = call_function("graft_bpe_apply", textCol,
      typedlit(merges.map(_._1)), typedlit(merges.map(_._2)))
    val out = df.withColumn("bpe_tokens", toks)
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
    out
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003 — the MOSS
    * scheme): hash every `k`-token gram, slide a `window` of
    * consecutive gram hashes, and select each window's minimum (ties →
    * RIGHTMOST, the paper's rule); the distinct selected (hash,
    * position) pairs are the document's fingerprints. Winnowing's
    * guarantee — any shared run of `window + k - 1` tokens between two
    * documents yields at least one shared fingerprint — is what makes
    * it the standard local fingerprint for plagiarism/near-dup
    * detection, complementing [[fingerprint]]'s whole-document hash.
    *
    * The gram hash is the first 8 hex digits of md5 — deliberately
    * PORTABLE arithmetic (identical in any engine), not a
    * Spark-internal hash, so fingerprints are oracle-checkable and
    * stable across systems. Documents shorter than `window + k - 1`
    * tokens have no full window and emit nothing (the guarantee does
    * not cover them).
    *
    * 100 TB: selection is entirely per-document, so it runs as PURE
    * ARRAY ARITHMETIC inside the scan projection — no explode-then-
    * window, no doc-keyed exchange, no sort; the only shuffle in sight
    * is whatever the caller does with the fingerprints. O(tokens ×
    * window) work per row. Returns `(idCol, fp, fp_pos)`. */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      window: Int = 4): DataFrame = {
    require(k > 0 && window > 0, "k and window must be positive")
    // One fused kernel call per row ([[graft.expressions.WinnowFpsExpr]]):
    // gram md5 hashes + rightmost-min window selection + per-document
    // (fp, fp_pos) dedupe in a single primitive-array pass. The previous
    // Column pipeline paid one md5 Column call per gram plus a
    // window-sized struct fold per window position — measured as the
    // dominant cost of the winnow/containment dedup family (r20). The
    // kernel's selection is bit-identical (same portable md5-derived
    // 32-bit gram hash, same ties-to-rightmost rule, same
    // first-occurrence dedupe order), so every SQL oracle built on the
    // md5 idiom still matches.
    // NO trailing distinct: the kernel dedupes the per-document
    // (fp, fp_pos) structs, and rows carry the doc id, so the exploded
    // (id, fp, fp_pos) rows are unique by construction — a row-level
    // distinct here would re-shuffle every fingerprint of the corpus to
    // remove nothing (winnowVerifiedPairs runs its own (id, fp)
    // distinct anyway).
    df.select(col(idCol),
        explode(call_function("graft_winnow_fps",
          col(textCol), lit(k), lit(window))).as("__s"))
      .select(col(idCol), col("__s.fp").as("fp"), col("__s.fp_pos").as("fp_pos"))
  }

  /** EXACT heavy-hitter tokens (count ≥ `minShare` of all tokens)
    * without a full-vocabulary shuffle: phase 1 runs a fixed-memory
    * Misra-Gries summary ([[Sketches.MisraGries]], `k` counters per
    * partition partial) whose superset guarantee — any token with true
    * count > total/k survives — makes its ≤ k survivors a complete
    * candidate set whenever `k > 1/minShare`; phase 2 recounts ONLY
    * the candidates exactly (an `isin` literal filter pushed to the
    * scan, then a ≤ k-key aggregate) and applies the threshold to exact
    * counts. The answer is exact; the corpus-wide pass is sketch-sized.
    *
    * 100 TB: the alternative — `groupBy(token)` then HAVING — shuffles
    * the entire Zipf-tailed vocabulary to answer a question about its
    * head. Here the full-corpus aggregate moves k counters per
    * partition, and the recount's shuffle carries at most k distinct
    * keys. `k` defaults to `2/minShare` (safety factor 2 over the
    * guarantee's minimum). */
  def heavyHitters(
      df: DataFrame,
      textCol: Column,
      minShare: Double,
      k: Int = 0): DataFrame = {
    require(minShare > 0.0 && minShare <= 1.0,
      s"minShare must be in (0, 1], got $minShare")
    val kEff = if (k > 0) k else math.ceil(2.0 / minShare).toInt
    // strict N/k bound, not the classic N/(k+1): the sketch's
    // insert-after-reap variant (Sketches.MisraGries.reduce) trades the
    // (k+1)-th of guarantee for better typical-case retention, so a
    // caller-supplied k at the old boundary could adversarially miss an
    // item with count exactly at the cutoff
    require(kEff > 1.0 / minShare,
      s"k=$kEff cannot guarantee completeness at minShare=$minShare " +
        s"(need k > ${1.0 / minShare})")
    val toks = df.filter(textCol.isNotNull)
      .select(explode(split(trim(textCol), "\\s+")).as("token"))
      // split of a whitespace-only text yields [""] — the same ""
      // pseudo-token the STREAMING twin already filters
      // (HotTokensStream); unfiltered it could both surface as a
      // "heavy hitter" and inflate total (raising the cutoff past a
      // real token at the boundary)
      .filter(col("token") =!= "")
    val summary = Sketches.misraGries(toks, "token", kEff)
    val cutoff = math.ceil(summary.total * minShare).toLong
    val spark = df.sparkSession
    import spark.implicits._
    if (summary.items.isEmpty) {
      Seq.empty[(String, Long)].toDF("token", "n_occurrences")
    } else {
      toks.filter(col("token").isin(summary.items.toIndexedSeq: _*))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
        .filter(col("n_occurrences") >= cutoff)
    }
  }

  /** PII redaction — the standard pre-training scrub: emails, bare
    * URLs, and long digit runs (phone/account numbers) replaced by
    * typed placeholder tokens. Patterns use only portable regex
    * constructs (character classes, quantifiers) so the same semantics
    * hold across engines. One codegen'd pass per pattern, no shuffle. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email,
      "https?://[^\\s]+", "<URL>")
    regexp_replace(url, "[0-9][0-9 ()+./-]{7,}[0-9]", "<NUMBER>")
  }

  /** Stopword list for [[gopherRules]]'s "has ≥2 stopwords" gate — a
    * fixed tiny set (the Gopher paper uses a comparable hand list);
    * membership is tested on the lowercased word. */
  val GopherStopwords: Seq[String] =
    graft.expressions.Kernels.GopherStopwords

  /** The Gopher quality-rule battery (Rae et al. 2021, §A.1.1) — the
    * de-facto standard repetition/format gates for web-scale pretraining
    * corpora, emitted as PER-RULE fail flags plus the combined `keep`
    * (same debuggable stance as [[filterReasons]]: when a source
    * collapses, the per-rule histogram says which gate did it).
    *
    * Rules (thresholds from the paper; word = whitespace token, line =
    * `\n` segment):
    *   - `fail_word_count`: words < 50 or > 100 000
    *   - `fail_mean_word_len`: mean word length outside [3, 10]
    *   - `fail_symbol_ratio`: (#hashes + #ellipses) / words > 0.1
    *   - `fail_bullet_ratio`: > 90% of lines start with a bullet
    *   - `fail_ellipsis_ratio`: > 30% of lines end with "..."
    *   - `fail_alpha_ratio`: < 80% of words contain a letter
    *   - `fail_stopwords`: fewer than 2 [[GopherStopwords]] hits
    *
    * Every threshold compares INTEGERS (ratio `a/b > p/q` is tested as
    * `a·q > b·p`), so the flags are bitwise engine-portable — no float
    * rounding seam for the oracle. One narrow codegen'd projection over
    * split/filter/aggregate higher-order functions: zero shuffle, zero
    * UDF, and the same column expression scores a stream unchanged. */
  /** The seven Gopher fail-flag expressions for a text column, in rule
    * order (shared by [[gopherRules]] and [[gopherKeep]]). */
  private def gopherFlags(t0: Column): Seq[(String, Column)] = {
    // ONE fused kernel pass ([[graft.expressions.Kernels.gopherFormat]])
    // computes all eight counts; the previous Column battery ran five
    // interpreted higher-order lambdas (filter/aggregate lambdas are
    // CodegenFallback — they split the codegen span) plus a per-word
    // linear isin over the stopword list. The repeated getFields
    // collapse to one evaluation via subexpression elimination; each
    // count's semantics is bit-pinned in the kernel's doc and
    // KernelEquivalenceSpec, so every integer-threshold flag (and the
    // SQL oracle) is unchanged.
    val g = call_function("graft_gopher_format", coalesce(t0, lit("")))
    val nWords = g.getField("n_words")
    val nLines = g.getField("n_lines")
    val sumWordLen = g.getField("sum_word_len")
    val nSymbols = g.getField("n_symbols")
    val nBullet = g.getField("n_bullet")
    val nEllEnd = g.getField("n_ellend")
    val nAlphaWords = g.getField("n_alpha")
    val nStop = g.getField("n_stop")
    Seq(
      "fail_word_count" -> (nWords < 50L || nWords > 100000L),
      "fail_mean_word_len" -> (nWords > 0L &&
        (sumWordLen < nWords * 3L || sumWordLen > nWords * 10L)),
      "fail_symbol_ratio" -> (nSymbols * 10L > nWords),
      "fail_bullet_ratio" -> (nBullet * 10L > nLines * 9L),
      "fail_ellipsis_ratio" -> (nEllEnd * 10L > nLines * 3L),
      "fail_alpha_ratio" -> (nWords > 0L && nAlphaWords * 5L < nWords * 4L),
      "fail_stopwords" -> (nStop < 2L))
  }

  /** `true` iff the text passes all seven Gopher rules — the composable
    * column form (one narrow expression; stream-safe). */
  def gopherKeep(text: Column): Column =
    gopherFlags(text).map { case (_, f) => !f }.reduce(_ && _)

  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // n_words from the same fused kernel struct as the flags —
    // subexpression elimination shares the single kernel evaluation
    val nWords = call_function("graft_gopher_format",
      coalesce(col(textCol), lit(""))).getField("n_words")
    // build the flag expressions ONCE and derive keep from the same
    // seq (the gopherRepetition pattern) — no duplicate expression
    // trees for codegen to deduplicate
    val flags = gopherFlags(col(textCol))
    val keep = flags.map { case (_, f) => !f }.reduce(_ && _)
    df.select(
      (col(idCol) +: nWords.as("n_words") +:
        flags.map { case (n, f) => f.as(n) } :+ keep.as("keep")): _*)
  }

  /** The Gopher REPETITION-rule battery (Rae et al. 2021, §A.1.1 —
    * the companion of [[gopherRules]]' format gates): per-rule fail
    * flags for internal repetition, the dominant failure mode of
    * templated/spam pages that pass every format gate. Token-fraction
    * variant (the paper measures some rules in characters; token
    * fractions keep every threshold an exact integer comparison).
    *
    * Rules (fraction > threshold fails; `a/b > p%` tested as
    * `a·100 > b·p` — bitwise engine-portable):
    *   - `fail_dup_lines`: NON-BLANK lines occurring ≥2× in the
    *     document > 30% of all non-blank lines (occurrence-counted;
    *     blank separator lines are excluded — they are the one
    *     guaranteed-duplicated key in any multi-paragraph document);
    *   - `fail_top_{2,3,4}gram`: the most frequent n-gram's occurrence
    *     share of all n-gram positions > 20/18/16%;
    *   - `fail_dup_{5..10}gram`: token positions covered by an n-gram
    *     occurring ≥2× within the document > 15/14/13/12/11/10%.
    *
    * One narrow projection: dup-line counting is a sorted-adjacent
    * scan on the in-row line array (no explode), the n-gram signals
    * are the fused [[graft.expressions.Kernels.ngramTop]] /
    * [[graft.expressions.Kernels.dupNgramCov]] kernels — zero shuffle,
    * zero UDF, stream-safe. */
  def gopherRepetition(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    // NON-BLANK lines only: blank separator lines are the one
    // guaranteed-duplicated key in any multi-paragraph document (the
    // same reason dedupLinesGlobal excludes them) — counting them as
    // duplicates failed every ordinary >=3-paragraph document at the
    // 30% gate
    val lines = filter(split(t, "\n"), l => l =!= "")
    val sorted = array_sort(lines)
    val nLines = size(lines).cast("long")
    // guarded: an all-blank text leaves ZERO lines, and sequence(1, 0)
    // would step DOWN to [1, 0] — element_at(_, 0) is an error
    val dupLines = when(size(lines) === 0, lit(0L))
      .otherwise(size(filter(sequence(lit(1), size(lines)), i =>
        (i > 1 && element_at(sorted, i) === element_at(sorted, i - 1)) ||
          (i < size(lines) && element_at(sorted, i) === element_at(sorted, i + 1))))
        .cast("long"))
    // ONE fused kernel call per row ([[graft.expressions.GopherRepExpr]])
    // instead of nine per-n kernel calls each re-tokenizing the document
    // (r20: nine UTF8String→String copies + splits dominated the query);
    // the repeated getFields collapse to one evaluation via Spark's
    // subexpression elimination, same per-n values and flags as before
    val rep = call_function("graft_gopher_rep", t)
    val flags: Seq[(String, Column)] =
      ("fail_dup_lines" -> (dupLines * 100L > nLines * 30L)) +:
        (Seq(2 -> 20, 3 -> 18, 4 -> 16).map { case (n, pct) =>
          s"fail_top_${n}gram" ->
            (rep.getField(s"top${n}_cnt") * 100L >
              rep.getField(s"top${n}_pos") * pct.toLong)
        } ++
        Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10).map {
          case (n, pct) =>
            s"fail_dup_${n}gram" ->
              (rep.getField(s"dup$n") * 100L >
                rep.getField("n_tokens") * pct.toLong)
        })
    val keep = flags.map { case (_, f) => !f }.reduce(_ && _)
    df.select(
      (col(idCol) +: nLines.as("n_lines") +:
        flags.map { case (n, f) => f.as(n) } :+ keep.as("keep")): _*)
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, §2.2) — the
    * other canonical web-corpus cleanup: instead of dropping whole
    * documents, each LINE must end in terminal punctuation, contain at
    * least `minLineWords` words, and avoid the blocklist markers
    * ("lorem ipsum", "javascript", and `{` — the boilerplate/code
    * tells); the document survives only if at least `minKeptLines`
    * lines remain. Emits `(id, n_lines, n_kept, cleaned_chars,
    * cleaned_md5, keep)` where `cleaned_md5` hashes the kept lines
    * re-joined with `\n` — a content-strength check that the SAME lines
    * survived, not merely the same number.
    *
    * 100 TB: one narrow codegen'd projection (split + higher-order
    * filter + aggregate) — no shuffle, no UDF, no explode (the
    * line-level decision never leaves the row), so cleaning cost is one
    * streaming pass over the corpus regardless of scale. */
  /** The surviving-lines array of the C4 filter for a text column (the
    * composable form [[cleanC4]] and [[qualityReport]] share). */
  def c4KeptLines(text: Column, minLineWords: Int = 5): Column = {
    val t = coalesce(text, lit(""))
    filter(split(t, "\n"), l => {
      val lw = lower(l)
      call_function("right", rtrim(l), lit(1)).isin(".", "!", "?", "\"") &&
        size(filter(split(l, "\\s+"), w => w =!= "")) >= minLineWords &&
        instr(lw, "lorem ipsum") === 0 &&
        instr(lw, "javascript") === 0 &&
        instr(l, "{") === 0
    })
  }

  def cleanC4(
      df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val kept = c4KeptLines(col(textCol), minLineWords)
    val nKept = size(kept).cast("long")
    df.select(col(idCol),
      size(split(t, "\n")).cast("long").as("n_lines"),
      nKept.as("n_kept"),
      aggregate(kept, lit(0L), (acc, l) => acc + length(l))
        .as("cleaned_chars"),
      md5(array_join(kept, "\n")).as("cleaned_md5"),
      (nKept >= minKeptLines).as("keep"))
  }

  /** Language decision as a single composable column (the
    * [[langIdScores]] argmax without the intermediate score columns):
    * argmax of marker counts, earlier [[LangMarkers]] entry wins ties,
    * zero markers → "und". */
  def predictedLang(text: Column): Column = {
    val m = metrics(text)
    val scores = LangMarkers.map { case (l, _) => m.getField(s"score_$l") }
    val best = greatest(scores: _*)
    val dec = LangMarkers.zip(scores)
      .foldRight(lit("und")) { case (((l, _), sc), els) =>
        when(sc === best, lit(l)).otherwise(els)
      }
    when(best === 0, lit("und")).otherwise(dec)
  }

  /** SentencePiece-style unigram-LM tokenizer trainer (Kudo 2018's
    * model, Viterbi-EM fit) — the other half of the tokenizer-training
    * surface next to [[bpeTrain]]:
    *
    *  1. candidate pieces = every substring (≤ `maxPieceLen` chars,
    *     with multiplicity) of the corpus words, counted in one
    *     aggregate weighted by word frequency — single characters are
    *     included by construction, so every corpus word stays coverable;
    *  2. each EM round: piece probabilities are the Laplace-smoothed
    *     `(count + 1) / (total + V)`, every DISTINCT word is re-segmented
    *     by the Viterbi kernel ([[graft.expressions.UnigramSegment]] —
    *     the piece table rides as one reference object, the `bpeApply`
    *     plan discipline), and usage counts re-aggregate. Exactly ONE
    *     action per round (the usage collect), mirroring `bpeTrain`'s
    *     one-action-per-merge discipline; the E-step is distributed
    *     over the words frame, the M-step is driver arithmetic.
    *
    * Engine-portability is designed in: segmentation maximizes the
    * left-to-right PRODUCT of probabilities (products and divisions of
    * doubles are correctly rounded — bitwise reproducible across
    * engines, unlike sums of `ln`s), with ties broken by fewer pieces
    * then lexicographic path, so a SQL oracle can replay the ENTIRE
    * fit by exhaustive segmentation enumeration.
    *
    * 100 TB: the words frame is the DISTINCT vocabulary (Heaps-law
    * sublinear in corpus size) built by one map-side-combined count;
    * each round is one narrow kernel map over it plus one bounded
    * aggregate. Corpus size only enters through the initial word count.
    * Returns `(piece, n_uses, prob)` for pieces used in the final
    * segmentation, ordered by (uses desc, piece). */
  def unigramTrain(
      docs: DataFrame, textCol: Column,
      maxPieceLen: Int = 4,
      iterations: Int = 2,
      maxWordLen: Int = 16,
      maxVocab: Int = 100000,
      vocabSize: Option[Int] = None): Seq[(String, Long, Double)] = {
    require(maxPieceLen >= 1 && iterations >= 1, "maxPieceLen and iterations must be >= 1")
    require(vocabSize.forall(_ >= 1), "vocabSize must be >= 1 when set")
    import org.apache.spark.storage.StorageLevel
    val words = docs
      .select(explode(split(trim(coalesce(textCol, lit(""))), "\\s+")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // candidate substrings WITH multiplicity ("aaa" counts "a" thrice),
      // weighted by word frequency — one explode + one aggregate
      val subs = flatten(transform(sequence(lit(1), length(col("w"))), i =>
        transform(sequence(lit(0), least(length(col("w")) - i, lit(maxPieceLen - 1))),
          l => col("w").substr(i, l + lit(1)))))
      // Bounded collect: orderBy + limit plans as TakeOrderedAndProject,
      // so the driver (and each task) holds at most maxVocab+1 rows even
      // when the distinct-substring table is billions of rows — a noisy
      // corpus fails the require below instead of OOMing the driver.
      // When the candidate set fits, the limit never truncates, so this
      // is still the complete sorted candidate table in one action.
      val cand = words.select(col("f"), explode(subs).as("piece"))
        .groupBy(col("piece")).agg(sum(col("f")).as("c"))
        .orderBy(col("piece"))
        .limit(maxVocab + 1)
        .collect()
      require(cand.length <= maxVocab,
        s"candidate vocabulary exceeds maxVocab=$maxVocab " +
          "(the piece table ships as a plan literal); raise maxVocab or lower maxPieceLen")
      val pieces = cand.map(_.getString(0)).toSeq
      val nV = pieces.size
      var counts: Seq[Long] = cand.map(_.getLong(1)).toSeq
      var total = counts.sum
      var round = 0
      while (round < iterations) {
        val d = (total + nV).toDouble
        val probs = counts.map(c => (c + 1.0) / d)
        val seg = call_function("graft_unigram_segment", col("w"),
          typedlit(pieces), typedlit(probs))
        // ONE action per round: the usage collect (it also materializes
        // nothing new — words stays pinned, the kernel map is stateless)
        val useMap = words.select(col("f"), explode(seg).as("piece"))
          .groupBy(col("piece")).agg(sum(col("f")).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        counts = pieces.map(p => useMap.getOrElse(p, 0L))
        total = counts.sum
        round += 1
      }
      // optional prune-to-target (SentencePiece's vocab-size control):
      // keep the top-`vocabSize` pieces by (usage desc, piece) PLUS all
      // single characters (the coverage floor — every corpus word stays
      // segmentable), then ONE more E-step under the pruned table so
      // usage redistributes onto the survivors. Rank-by-usage is the
      // standard simplification of SentencePiece's likelihood-loss
      // prune; the coverage floor is exactly its
      // required_chars guarantee.
      val (outPieces, outCounts) = vocabSize match {
        case None => (pieces, counts)
        case Some(k) =>
          val top = pieces.indices
            .sortBy(i => (-counts(i), pieces(i))).take(k).toSet
          val keptIdx = pieces.indices
            .filter(i => top(i) || pieces(i).length == 1)
          val keptPieces = keptIdx.map(pieces)
          val keptCounts = keptIdx.map(counts)
          val dK = (keptCounts.sum + keptPieces.size).toDouble
          val keptProbs = keptCounts.map(c => (c + 1.0) / dK)
          val seg = call_function("graft_unigram_segment", col("w"),
            typedlit(keptPieces), typedlit(keptProbs))
          val useMap = words.select(col("f"), explode(seg).as("piece"))
            .groupBy(col("piece")).agg(sum(col("f")).as("c"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          (keptPieces, keptPieces.map(p => useMap.getOrElse(p, 0L)))
      }
      val d = (outCounts.sum + outPieces.size).toDouble
      outPieces.zip(outCounts).filter(_._2 > 0L)
        .map { case (p, c) => (p, c, (c + 1.0) / d) }
        .sortBy { case (p, c, _) => (-c, p) }
    } finally words.unpersist()
  }

  /** Tokenize documents with a trained unigram-LM vocabulary — the
    * ENCODE half next to [[unigramTrain]] (the [[bpeEncode]] symmetry):
    * whitespace words each segment through the Viterbi kernel, with the
    * UNK rule that a word the vocabulary cannot cover — or one past
    * `maxWordLen`, which training never saw — stays whole as a single
    * piece. Adds `unigram_tokens` (flattened piece array) and
    * `n_unigram_tokens`.
    *
    * 100 TB: one narrow projection; the piece table rides as one
    * reference object per kernel call (plan size O(1) in vocab), so the
    * encode lives in the scan projection and composes with
    * pushdown/streaming exactly like [[bpeEncode]]. */
  def unigramEncode(
      df: DataFrame, textCol: Column,
      vocab: Seq[(String, Double)],
      maxWordLen: Int = 16): DataFrame = {
    val pieces = vocab.map(_._1)
    val probs = vocab.map(_._2)
    val words = filter(split(trim(coalesce(textCol, lit(""))), "\\s+"),
      w => w =!= "")
    val toks = flatten(transform(words, w =>
      when(length(w) > maxWordLen, array(w)).otherwise(
        coalesce(
          call_function("graft_unigram_segment", w,
            typedlit(pieces), typedlit(probs)),
          array(w)))))
    df.withColumn("unigram_tokens", toks)
      .withColumn("n_unigram_tokens", size(col("unigram_tokens")).cast("long"))
  }

  /** A trained one-vs-rest language model: a `weights(b)` log-odds
    * table over hashed n-gram buckets plus a document log-prior —
    * the fastText shape (linear scorer over hashed n-gram features)
    * with a closed-form multinomial fit. */
  case class LangIdModel(language: String, logPrior: Double, weights: Seq[Double])

  /** Train one-vs-rest hashed-n-gram language classifiers from labeled
    * examples — the upgrade path from the 4-marker [[langIdScores]]
    * heuristic to a real N-language classifier: any language with
    * labeled data gets a model, no hand-written marker lists.
    *
    * Features are the DSIR bucket hash (word unigrams + bigrams,
    * md5-bucketed — engine-portable, so a DuckDB oracle replays
    * training exactly). Per language ℓ the bucket weight is the
    * Laplace-smoothed log-odds
    * `ln((cℓ(b)+1)/(nℓ+B)) − ln((c¬ℓ(b)+1)/(n¬ℓ+B))` and the prior is
    * `ln((docsℓ+1)/(docs+L))` — a multinomial naive-Bayes fit, i.e.
    * the closed-form optimum of the generative objective, computed in
    * ONE map-side-combined aggregate over (bucket, per-language
    * counts) however large the labeled set is (the shuffle carries at
    * most `buckets × partitions` counter cells). A discriminative
    * refinement can run on top via [[Learn.fitLogistic]] over the same
    * bucket features; the generative fit is the deterministic,
    * oracle-replayable core. */
  def langIdTrain(
      labeled: DataFrame,
      textCol: String,
      labelCol: String,
      languages: Seq[String],
      buckets: Int = 256): Seq[LangIdModel] = {
    require(languages.nonEmpty && languages.distinct == languages,
      s"languages must be non-empty and distinct: $languages")
    val fb = labeled.select(col(labelCol).as("__l"),
      explode(Corpus.dsirBuckets(col(textCol), buckets)).as("__b"))
    val perLang = languages.map(l =>
      sum(when(col("__l") === l, 1L).otherwise(0L)).as(s"__c_$l"))
    val rows = fb.groupBy(col("__b"))
      .agg(perLang.head, (perLang.tail :+ count(lit(1)).as("__c_all")): _*)
      .collect()
    val counts = languages.map(_ => new Array[Long](buckets))
    val all = new Array[Long](buckets)
    rows.foreach { r =>
      val b = r.getLong(0).toInt
      languages.indices.foreach(i => counts(i)(b) = r.getLong(i + 1))
      all(b) = r.getLong(languages.size + 1)
    }
    val docCounts = labeled.groupBy(col(labelCol))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docsTotal = docCounts.values.sum
    val nAll = all.sum
    languages.zipWithIndex.map { case (l, i) =>
      val nL = counts(i).sum
      val nOther = nAll - nL
      val w = (0 until buckets).map { b =>
        val cL = counts(i)(b)
        val cOther = all(b) - cL
        math.log((cL + 1.0) / (nL + buckets)) -
          math.log((cOther + 1.0) / (nOther + buckets))
      }
      LangIdModel(l,
        math.log((docCounts.getOrElse(l, 0L) + 1.0) / (docsTotal + languages.size)),
        w)
    }
  }

  /** Trained-model argmax over an arbitrary text Column (shared by the
    * document and per-line predictors): prior + Σ bucket weights per
    * model, ties to the earlier model. */
  private def langIdPredictExpr(models: Seq[LangIdModel], text: Column): Column = {
    val buckets = models.head.weights.size
    val bs = Corpus.dsirBuckets(text, buckets)
    val zs = models.map { m =>
      val table = typedLit(m.weights)
      aggregate(bs, lit(m.logPrior),
        (a, b) => a + element_at(table, (b + 1).cast("int")))
    }
    val best = if (zs.size == 1) zs.head else greatest(zs: _*)
    models.zip(zs).foldRight(lit(models.last.language): Column) {
      case ((m, z), rest) => when(z === best, m.language).otherwise(rest)
    }
  }

  /** Per-LINE language composition of mixed-language documents — the
    * line-granular face of the trained models (web documents routinely
    * interleave languages; real pipelines filter or split by line
    * language rather than discarding whole documents): for each
    * document, the non-blank line count, the per-language line counts,
    * and the majority line language (ties in model order).
    *
    * One narrow projection: lines split in-row, each line classified by
    * the literal-table argmax inside a `transform` lambda — no explode,
    * no shuffle, stream-safe like every other scoring column. */
  def langIdLineShares(
      df: DataFrame, textCol: String, models: Seq[LangIdModel]): DataFrame = {
    require(models.nonEmpty, "langIdLineShares needs at least one model")
    require(models.map(_.language).distinct.size == models.size,
      s"duplicate model languages: ${models.map(_.language)}")
    // same bucket-count check as langIdPredictTrained/langIdRefine:
    // lines are hashed with the HEAD model's bucket count, so a
    // mixed-bucket model set would index the others' tables out of
    // range (NULL scores) or on a prefix — silently wrong, never loud
    require(models.forall(_.weights.size == models.head.weights.size),
      s"models disagree on bucket count: ${models.map(_.weights.size)}")
    val lines = filter(
      split(coalesce(col(textCol), lit("")), "\n"),
      l => trim(l) =!= "")
    val lineLangs = transform(lines, l => langIdPredictExpr(models, l))
    val withCounts = models.foldLeft(
        df.withColumn("__line_langs", lineLangs)) { (acc, m) =>
      acc.withColumn(s"n_lines_${m.language}",
        size(filter(col("__line_langs"), x => x === m.language)).cast("long"))
    }
    val counts = models.map(m => col(s"n_lines_${m.language}"))
    val top = if (counts.size == 1) counts.head else greatest(counts: _*)
    val major = models.zip(counts).foldRight(lit(models.last.language): Column) {
      case ((m, c), rest) => when(c === top, m.language).otherwise(rest)
    }
    withCounts
      .withColumn("n_lines", size(col("__line_langs")).cast("long"))
      .withColumn("line_major_lang",
        when(col("n_lines") === 0L, lit("und")).otherwise(major))
      .drop("__line_langs")
  }

  /** Discriminative refinement of [[langIdTrain]] models — softmax
    * gradient descent over the SAME hashed-bucket features, starting
    * from the generative fit (the full fastText shape: linear model
    * over hashed n-grams, closed-form init + discriminative epochs).
    *
    * Each iteration is TWO map-side-combined aggregates however large
    * the labeled set is: one per-document pass computes the softmax
    * residual per class (scores via the literal weight tables — zero
    * joins), then one explode-by-bucket aggregate reduces
    * `(bucket, Σ resid_k)` cells — the shuffle carries at most
    * `buckets × K × partitions` counters. Priors refine from the
    * per-document residual means in the same pass. The M-step is
    * driver arithmetic on the weight arrays. */
  def langIdRefine(
      labeled: DataFrame,
      textCol: String,
      labelCol: String,
      models: Seq[LangIdModel],
      learningRate: Double = 0.5,
      iterations: Int = 5): Seq[LangIdModel] = {
    require(models.nonEmpty, "langIdRefine needs initial models")
    val buckets = models.head.weights.size
    require(models.forall(_.weights.size == buckets),
      "all models must share one bucket count")
    var cur = models
    val bs = Corpus.dsirBuckets(col(textCol), buckets)
    val n = labeled.filter(col(textCol).isNotNull && col(labelCol).isNotNull).count()
    if (n == 0) return models
    var iter = 0
    while (iter < iterations) {
      // per-document class scores -> softmax residuals (stabilized)
      val zs = cur.map { m =>
        val table = typedLit(m.weights)
        aggregate(bs, lit(m.logPrior),
          (a, b) => a + element_at(table, (b + 1).cast("int")))
      }
      val mx = if (zs.size == 1) zs.head else greatest(zs: _*)
      val es = zs.map(z => exp(z - mx))
      val denom = es.reduceLeft(_ + _)
      val resids = cur.zip(es).map { case (m, e) =>
        (e / denom - (col(labelCol) === m.language).cast("double"))
          .as(s"__r_${m.language}")
      }
      val perDoc = labeled
        .filter(col(textCol).isNotNull && col(labelCol).isNotNull)
        .select((col(textCol) +: resids): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // bucket-gradient pass: explode buckets, sum residuals per bucket
      val residCols = cur.map(m => col(s"__r_${m.language}"))
      // finally: a mid-iteration collect failure must not leak the
      // persisted residual frame (same discipline as bpeTrain)
      val (gradRows, priorRow) =
        try {
          val g = perDoc
            .select((explode(Corpus.dsirBuckets(col(textCol), buckets))
              .as("__b") +: residCols): _*)
            .groupBy(col("__b"))
            .agg(sum(residCols.head).as("__g0"),
              residCols.tail.zipWithIndex
                .map { case (c, i) => sum(c).as(s"__g${i + 1}") }: _*)
            .collect()
          // prior gradient: mean residual per class (same persisted pass)
          val pr = perDoc
            .agg(avg(residCols.head), residCols.tail.map(avg(_)): _*)
            .first()
          (g, pr)
        } finally perDoc.unpersist(blocking = false)
      val grads = cur.indices.map(_ => new Array[Double](buckets))
      gradRows.foreach { r =>
        val b = r.getLong(0).toInt
        cur.indices.foreach(k => grads(k)(b) = r.getDouble(k + 1))
      }
      cur = cur.zipWithIndex.map { case (m, k) =>
        m.copy(
          logPrior = m.logPrior - learningRate * priorRow.getDouble(k),
          weights = m.weights.zipWithIndex.map { case (w, b) =>
            w - learningRate * grads(k)(b) / n
          })
      }
      iter += 1
    }
    cur
  }

  /** Score + argmax columns for [[langIdTrain]] models: per language a
    * `score_<lang>` column (prior + Σ bucket weights — the same
    * zero-shuffle literal-table projection as DSIR scoring) and
    * `predicted_lang` (ties resolve to the earlier model — fixed,
    * engine-portable order). */
  def langIdPredictTrained(
      df: DataFrame, textCol: String, models: Seq[LangIdModel]): DataFrame = {
    require(models.nonEmpty, "langIdPredictTrained needs at least one model")
    require(models.map(_.language).distinct.size == models.size,
      s"duplicate model languages: ${models.map(_.language)}")
    require(models.forall(_.weights.size == models.head.weights.size),
      "all models must share one bucket count (one hash per document)")
    val buckets = models.head.weights.size
    val bs = Corpus.dsirBuckets(col(textCol), buckets)
    val scored = models.foldLeft(df) { (acc, m) =>
      val table = typedLit(m.weights)
      acc.withColumn(s"score_${m.language}",
        aggregate(bs, lit(m.logPrior),
          (a, b) => a + element_at(table, (b + 1).cast("int"))))
    }
    val scores = models.map(m => col(s"score_${m.language}"))
    val best = if (scores.size == 1) scores.head else greatest(scores: _*)
    val pred = models.foldRight(lit(models.last.language): Column) { (m, rest) =>
      when(col(s"score_${m.language}") === best, m.language).otherwise(rest)
    }
    scored.withColumn("predicted_lang", pred)
  }

  /** Per-source corpus quality dashboard — the report a mixture owner
    * reads before deciding budgets: document counts, Gopher pass count,
    * C4 pass count, language share, token volume and corpus-level alpha
    * ratio, per source. ONE narrow projection computes every per-doc
    * signal (fused kernel + the composable keep columns — subexpression
    * elimination shares the splits), then one map-side-combined
    * aggregate reduces to a row per source; the ratio divides two exact
    * integer sums, so the 6-dp round is bitwise engine-portable.
    *
    * 100 TB: the whole report is a single streaming pass + a tiny
    * aggregate keyed on source (bounded cardinality) — no joins, no
    * windows, no second scan. */
  def qualityReport(
      df: DataFrame, textCol: String, sourceCol: String,
      minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val t = col(textCol)
    val m = metrics(t)
    val perDoc = df.select(
      col(sourceCol).as("source"),
      gopherKeep(t).as("__gk"),
      (size(c4KeptLines(t, minLineWords)) >= minKeptLines).as("__ck"),
      predictedLang(t).as("__lang"),
      m.getField("n_tokens").as("__tok"),
      m.getField("alpha_chars").as("__alpha"),
      m.getField("n_chars").as("__chars"))
    perDoc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__gk"), 1L).otherwise(0L)).as("n_pass_gopher"),
        sum(when(col("__ck"), 1L).otherwise(0L)).as("n_pass_c4"),
        sum(when(col("__lang") === "en", 1L).otherwise(0L)).as("n_docs_en"),
        sum(col("__tok")).as("n_tokens"),
        sum(col("__alpha")).as("__sum_alpha"),
        sum(col("__chars")).as("__sum_chars"))
      .select(col("source"), col("n_docs"), col("n_pass_gopher"),
        col("n_pass_c4"), col("n_docs_en"), col("n_tokens"),
        when(col("__sum_chars") === 0L, lit(null))
          .otherwise(round(col("__sum_alpha") * lit(1.0) / col("__sum_chars"), 6))
          .as("alpha_ratio"))
  }
}
