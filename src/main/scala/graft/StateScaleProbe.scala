package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.StateOps
import graft.pipeline.{BucketedStateTable, StateManifest}
import graft.streaming.ForeachBatch

/** Inverted scale probes for the state-table platform — the two legs
  * `SCALE_PROBE_CDC.json` (corpus 100×, change volume fixed) cannot
  * see:
  *
  *  1. '''Change volume 100× against a FIXED corpus''': prices
  *     [[BucketedStateTable.changesBetween]]'s rewritten-bucket reads
  *     and [[StateOps.maintainSumCount]]'s group-delta shuffle as the
  *     CHANGED row count grows. Expected ~row-linear in changed rows,
  *     zero spill — the feed and the view refresh must cost what the
  *     change costs, never what the table costs.
  *
  *  2. '''Fixed-size SQL row-level DML against a 100× table''': a
  *     16-key MERGE + modulo UPDATE + modulo DELETE through the DSv2
  *     catalog against 1× and N× tables (256 buckets). The evidence is
  *     the manifests' own bucket pointers: the three statements
  *     rewrite only the buckets their keys hash into — a constant set
  *     — while the table grows N-fold around them. Wall time grows
  *     only with the SIZE of those matched buckets (the documented
  *     `numBuckets ≈ bytes / target-bucket` sizing rule's domain),
  *     never with the bucket COUNT the table holds.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  * sbt "runMain graft.StateScaleProbe"` → `SCALE_PROBE_CDC_VOL.json`.
  * Knobs: SPARK_GRAFT_PROBE_COPIES (DML table growth, default 100),
  * SPARK_GRAFT_PROBE_VOL (change-volume growth, default 100),
  * SPARK_GRAFT_CPUS. */
object StateScaleProbe {

  private def num(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Bucket pointers of the newest manifest at `root`. */
  private def headBuckets(spark: SparkSession, root: String): Map[Int, Long] =
    StateManifest.snapshot(spark.sparkContext.hadoopConfiguration, root)
      .map(_.buckets).getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val copies = sys.env.getOrElse("SPARK_GRAFT_PROBE_COPIES", "100").toInt.max(2)
    val volFactor = sys.env.getOrElse("SPARK_GRAFT_PROBE_VOL", "100").toInt.max(2)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = BenchMetrics.install(spark.sparkContext)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-stateprobe-").toString

    def timed[A](body: => A): (A, Double, BenchMetrics.Snapshot) = {
      Tables.dropCachedLeftovers(spark)
      metrics.reset()
      val t0 = System.nanoTime()
      val a = body
      ((a, (System.nanoTime() - t0) / 1e9,
        metrics.snapshot(spark.sparkContext)))
    }

    // ── leg 1: change volume grows, corpus fixed ──────────────────────
    // One table per volume point, both seeded with the SAME corpus;
    // the change batch touches `vol` keys (2/3 value updates, 1/3
    // deletes via applyDelta) — the diff and the view refresh are then
    // timed in isolation against retained commits.
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val nDocs = docs.count()
    val baseVol = math.max(20L, nDocs / (volFactor.toLong * 10L))
    def cdcLeg(tag: String, vol: Long): String = {
      val root = s"$scratch/cdc_$tag"
      val t = new BucketedStateTable(spark, root,
        keyCols = Seq("doc_id"), numBuckets = 64,
        keepCommits = 10, retentionFloorMillis = 0L)
      t.merge(docs, keys = Seq("doc_id"))
      val c1 = t.commits().last
      // the maintained view EXISTS before pricing starts — collected to
      // the driver and rebuilt as a local frame (a per-lang aggregate,
      // a handful of rows) because the timed legs run
      // dropCachedLeftovers, which would evict a localCheckpoint
      val shaped = StateOps.aggregateShape(t.readAt(c1).get,
        Seq("lang"), "n_chars")
      val agg0 = spark.createDataFrame(
        java.util.Arrays.asList(shaped.collect(): _*), shaped.schema)
      val touched = docs.filter(col("doc_id") % lit(nDocs / vol) === 0)
      t.merge(touched.filter(col("doc_id") % 3 =!= 0)
          .withColumn("n_chars", col("n_chars") + 1000L),
        keys = Seq("doc_id"))
      t.applyDelta(upserts = docs.limit(0),
        deleteKeys = touched.filter(col("doc_id") % 3 === 0)
          .select("doc_id"),
        keys = Seq("doc_id"))
      val c2 = t.commits().last
      val (nChanges, cdcSec, cdcSnap) = timed {
        t.changesBetween(c1, c2).write.format("noop").mode("overwrite").save()
        t.changesBetween(c1, c2).count()
      }
      val (_, ivmSec, ivmSnap) = timed {
        StateOps.maintainSumCount(agg0, t.changesBetween(c1, c2),
            Seq("lang"), "n_chars")
          .write.format("noop").mode("overwrite").save()
      }
      s""""$tag":{"changed_keys":$vol,"change_rows":$nChanges,""" +
        s""""cdc_sec":${num(cdcSec)},"cdc_resources":${cdcSnap.json},""" +
        s""""ivm_sec":${num(ivmSec)},"ivm_resources":${ivmSnap.json}}"""
    }
    val cdc1 = cdcLeg("vol_1x", baseVol)
    val cdcN = cdcLeg(s"vol_${volFactor}x", baseVol * volFactor)

    // ── leg 2: fixed DML, table grows `copies`-fold ───────────────────
    // The N× table reuses ScaleProbe's divergent-copy corpus (id
    // stride keeps the fixed DML window copy-0-only). 256 buckets so
    // the 16-key statements touch a SMALL constant subset — the
    // manifest pointer diff is the rewrite evidence.
    def dmlLeg(tag: String, nCopies: Int): String = {
      val dataDir = s"$scratch/corpus_$tag"
      ScaleProbe.materialize(spark, sfDir, dataDir, nCopies)
      val d = Tables.documents(spark, dataDir)
        .select(col("doc_id"), col("n_chars"))
      val root = s"$scratch/dml_$tag"
      val t = new BucketedStateTable(spark, root,
        keyCols = Seq("doc_id"), numBuckets = 256,
        keepCommits = 10, retentionFloorMillis = 0L)
      t.merge(d, keys = Seq("doc_id"))
      val rows = t.read().get.count()
      val before = headBuckets(spark, root)
      val cat = "gprobe_" + tag
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftStateCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", scratch)
      d.filter(col("doc_id").between(150, 165))
        .createOrReplaceTempView("probe_src")
      val (_, dmlSec, dmlSnap) = timed {
        spark.sql(
          s"""MERGE INTO $cat.dml_$tag t USING probe_src s ON t.doc_id = s.doc_id
             |WHEN MATCHED AND s.doc_id % 5 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1000000
             |WHEN NOT MATCHED THEN INSERT (doc_id, n_chars) VALUES (s.doc_id, s.n_chars)
             |""".stripMargin)
        spark.sql(s"UPDATE $cat.dml_$tag SET n_chars = CAST(0 AS BIGINT) " +
          "WHERE doc_id BETWEEN 200 AND 207")
        spark.sql(s"DELETE FROM $cat.dml_$tag WHERE doc_id BETWEEN 300 AND 303")
      }
      // rewrite evidence: pointers changed between the pre-DML manifest
      // and the final one — the union of the three statements' dirty
      // buckets, out of 256
      val after = headBuckets(spark, root)
      val rewritten = (before.keySet ++ after.keySet)
        .count(b => before.get(b) != after.get(b))
      s""""$tag":{"table_rows":$rows,"dml_sec":${num(dmlSec)},""" +
        s""""buckets_rewritten":$rewritten,"buckets_total":256,""" +
        s""""dml_resources":${dmlSnap.json}}"""
    }
    val dml1 = dmlLeg("x1", 1)
    val dmlN = dmlLeg(s"x$copies", copies)

    // ── leg 3: splitBuckets at table scale ────────────────────────────
    // The split is a full rewrite (priced here, honestly linear in
    // table size) — the CLAIM under test is what follows: a
    // cross-boundary diff of one small post-split change stays
    // bucket-pruned (reads one parent + its children, never the
    // table), so CDC consumers pay change-volume cost through a
    // relayout of ANY size.
    def splitLeg(tag: String, nCopies: Int): String = {
      val dataDir = s"$scratch/corpus_$tag" // reuses dmlLeg's corpus
      val d = Tables.documents(spark, dataDir)
        .select(col("doc_id"), col("n_chars"))
      val root = s"$scratch/split_$tag"
      val t = new BucketedStateTable(spark, root,
        keyCols = Seq("doc_id"), numBuckets = 64,
        keepCommits = 10, retentionFloorMillis = 0L)
      t.merge(d, keys = Seq("doc_id"))
      val rows = t.read().get.count()
      val preSplit = t.commits().last
      val (t2, splitSec, splitSnap) = timed { t.splitBuckets(2) }
      t2.merge(d.filter(col("doc_id").between(150, 165))
        .withColumn("n_chars", col("n_chars") + 1L), keys = Seq("doc_id"))
      val (nDiff, diffSec, diffSnap) = timed {
        val diff = t2.changesBetween(preSplit, t2.commits().last)
        diff.write.format("noop").mode("overwrite").save()
        diff.count()
      }
      s""""$tag":{"table_rows":$rows,"split_sec":${num(splitSec)},""" +
        s""""split_resources":${splitSnap.json},""" +
        s""""cross_diff_rows":$nDiff,"cross_diff_sec":${num(diffSec)},""" +
        s""""cross_diff_resources":${diffSnap.json}}"""
    }
    val split1 = splitLeg("x1", 1)
    val splitN = splitLeg(s"x$copies", copies)

    // ── leg 4: coalesceBuckets at table scale ────────────────────────
    // The inverse relayout, same claim inverted: the coalesce is an
    // honest full rewrite, and a small post-coalesce change diffs
    // across the boundary reading one new bucket + its f children —
    // never the table — no matter the table's size.
    def coalesceLeg(tag: String, nCopies: Int): String = {
      val dataDir = s"$scratch/corpus_$tag" // reuses dmlLeg's corpus
      val d = Tables.documents(spark, dataDir)
        .select(col("doc_id"), col("n_chars"))
      val root = s"$scratch/coal_$tag"
      val t = new BucketedStateTable(spark, root,
        keyCols = Seq("doc_id"), numBuckets = 128,
        keepCommits = 10, retentionFloorMillis = 0L)
      t.merge(d, keys = Seq("doc_id"))
      val rows = t.read().get.count()
      val preCoal = t.commits().last
      val (t2, coalSec, coalSnap) = timed { t.coalesceBuckets(2) }
      t2.merge(d.filter(col("doc_id").between(150, 165))
        .withColumn("n_chars", col("n_chars") + 1L), keys = Seq("doc_id"))
      val (nDiff, diffSec, diffSnap) = timed {
        val diff = t2.changesBetween(preCoal, t2.commits().last)
        diff.write.format("noop").mode("overwrite").save()
        diff.count()
      }
      s""""$tag":{"table_rows":$rows,"coalesce_sec":${num(coalSec)},""" +
        s""""coalesce_resources":${coalSnap.json},""" +
        s""""cross_diff_rows":$nDiff,"cross_diff_sec":${num(diffSec)},""" +
        s""""cross_diff_resources":${diffSnap.json}}"""
    }
    val coal1 = coalesceLeg("x1", 1)
    val coalN = coalesceLeg(s"x$copies", copies)

    // ── leg 5: change-feed backlog drain under admission control ─────
    // 24 commits of backlog against the FULL corpus; a recovering
    // consumer drains it capped (maxCommitsPerTrigger=4 -> 6 bounded
    // batches) vs uncapped (one batch). The claim: the cap bounds the
    // PEAK batch (memory/sink pressure) at a modest total-wall cost —
    // the knob trades latency for boundedness, it does not multiply
    // work (net-diff reads each rewritten bucket range once per batch).
    def backlogLeg(tag: String, nCopies: Int): String = {
      val dataDir = s"$scratch/corpus_$tag"
      val d = Tables.documents(spark, dataDir)
        .select(col("doc_id"), col("n_chars"))
      def build(root: String): (BucketedStateTable, Long) = {
        val t = new BucketedStateTable(spark, root,
          keyCols = Seq("doc_id"), numBuckets = 64,
          keepCommits = 40, retentionFloorMillis = 0L)
        t.merge(d, keys = Seq("doc_id"))
        val base = t.commits().last
        (0 until 24).foreach { i =>
          t.merge(d.filter(col("doc_id").between(1000 + i * 16, 1015 + i * 16))
            .withColumn("n_chars", col("n_chars") + lit(i.toLong + 1L)),
            keys = Seq("doc_id"))
        }
        (t, base)
      }
      def drain(root: String, base: Long,
          cap: Option[Int]): (Double, Int, Long) = {
        val batches = new java.util.concurrent.atomic.AtomicInteger
        val maxRows = new java.util.concurrent.atomic.AtomicLong
        val reader0 = spark.readStream.format("graft-state-changes")
          .option("startingCommit", base)
        val reader = cap.fold(reader0)(m =>
          reader0.option("maxCommitsPerTrigger", m.toString))
        val (_, sec, _) = timed {
          val q = ForeachBatch.start(reader.load(root),
              s"$root-ck-${cap.getOrElse(0)}", Trigger.ProcessingTime(0L)) {
            (df, _) =>
              val n = df.count()
              if (n > 0) batches.incrementAndGet()
              maxRows.getAndAccumulate(n, math.max(_, _))
          }
          try q.processAllAvailable() finally q.stop()
        }
        (sec, batches.get, maxRows.get)
      }
      val (tCap, baseCap) = build(s"$scratch/backlog_cap_$tag")
      val (capSec, capBatches, capPeak) =
        drain(s"$scratch/backlog_cap_$tag", baseCap, Some(4))
      val (tUn, baseUn) = build(s"$scratch/backlog_un_$tag")
      val (unSec, unBatches, unPeak) =
        drain(s"$scratch/backlog_un_$tag", baseUn, None)
      val _ = (tCap, tUn)
      s""""$tag":{"backlog_commits":24,""" +
        s""""capped":{"max_commits_per_trigger":4,"batches":$capBatches,""" +
        s""""peak_batch_rows":$capPeak,"wall_sec":${num(capSec)}},""" +
        s""""uncapped":{"batches":$unBatches,"peak_batch_rows":$unPeak,""" +
        s""""wall_sec":${num(unSec)}}}"""
    }
    val backlog1 = backlogLeg("x1", 1)
    val backlogN = backlogLeg(s"x$copies", copies)

    // ── leg 5b: ROW-capped drain of a volume-scaled backlog, restarted
    // at every batch boundary ──
    // maxChangeRowsPerTrigger against a backlog whose commits span two
    // orders of magnitude — several small commits and one oversized
    // (volFactor×) commit — drained with Trigger.Once so every batch
    // is a full stop + checkpoint restart. Recorded: the per-batch
    // emitted-row DISTRIBUTION. The claims: multi-commit batches stay
    // under the cap, the oversized commit drains ALONE (first-commit
    // progress guarantee, never an unbounded coalesced batch), and a
    // restart never re-emits (exactly-once parity asserted in-leg).
    def rowcapLeg(tag: String): String = {
      val dataDir = s"$scratch/corpus_x1"
      val d = Tables.documents(spark, dataDir)
        .select(col("doc_id"), col("n_chars"))
      val root = s"$scratch/rowcap_$tag"
      val t = new BucketedStateTable(spark, root,
        keyCols = Seq("doc_id"), numBuckets = 64,
        keepCommits = 40, retentionFloorMillis = 0L,
        statsCols = Seq("n_chars"))
      t.merge(d, keys = Seq("doc_id"))
      val base = t.commits().last
      (0 until 8).foreach { i => // small commits: 16 docs each
        t.merge(d.filter(col("doc_id").between(1000 + i * 16, 1015 + i * 16))
          .withColumn("n_chars", col("n_chars") + lit(i + 1L)),
          keys = Seq("doc_id"))
      }
      // the oversized commit: volFactor× the small ones. A key-range
      // FILTER, not limit(): an unordered limit is the exact
      // non-deterministic update lineage commit() refuses (it could
      // select a different subset between the dirty-bucket probe and
      // the write)
      t.merge(d.filter(col("doc_id") < lit(16L * volFactor))
        .withColumn("n_chars", col("n_chars") + lit(999L)),
        keys = Seq("doc_id"))
      // sized so ~3 small commits coalesce per batch (each costs
      // ~14 touched buckets × ~156 pre+post rows ≈ 2.2k estimated)
      // while the oversized commit (all 64 buckets dirty, ~10k+) can
      // only ride the first-commit progress guarantee — alone
      val capRows = 8000L
      val backlog = t.commits().filter(_ > base)
      val batchRows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val batchEnds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val (_, drainSec, drainSnap) = timed {
        var before = -1
        while (batchRows.size != before) {
          before = batchRows.size
          val feed = spark.readStream.format("graft-state-changes")
            .option("startingCommit", base)
            .option("maxChangeRowsPerTrigger", capRows.toString)
            .load(root)
          val q = ForeachBatch.start(feed, s"$root-ck", Trigger.Once()) {
            (df, _) =>
              // rows are tagged with the batch's range-END commit
              val agg = df.groupBy("_commit_id").count().collect()
              if (agg.nonEmpty) {
                batchRows += agg.map(_.getLong(1)).sum
                batchEnds += agg.map(_.getLong(0)).max
              }
          }
          q.awaitTermination(120_000)
          ()
        }
      }
      // commit grouping = partition of the backlog by the range ends
      val starts = base +: batchEnds.dropRight(1)
      val batchCommits = starts.zip(batchEnds).map { case (st, en) =>
        backlog.count(c => c > st && c <= en) }
      val multi = batchRows.zip(batchCommits).filter(_._2 > 1)
      require(multi.forall(_._1 <= capRows),
        s"a multi-commit batch exceeded the row cap: $batchRows / $batchCommits")
      require(batchCommits.sum == 9,
        s"drain must cover all 9 backlog commits exactly once, got $batchCommits")
      s""""$tag":{"cap_rows":$capRows,"backlog_commits":9,""" +
        s""""oversized_factor":$volFactor,""" +
        s""""batches":${batchRows.size},""" +
        s""""batch_rows":[${batchRows.mkString(",")}],""" +
        s""""batch_commits":[${batchCommits.mkString(",")}],""" +
        s""""wall_sec":${num(drainSec)},"resources":${drainSnap.json}}"""
    }
    val rowcap = rowcapLeg(s"vol$volFactor")

    // ── leg 6: zone-map / hash bucket pruning at table scale ──────────
    // The freshness pattern zone maps exist for: seed everything at
    // updated_at=0, touch 16 fixed keys at updated_at=1, then ask
    // "what changed since?" — [[BucketedStateTable.readWhere]] must
    // plan ONLY the touched buckets (their recorded max moved; every
    // clean bucket's max says 0), while the unpruned scan pays the
    // whole table. A key-equality point lookup prunes via the bucket
    // hash — 1 of 256 at any scale, no clustering required. Reported:
    // wall for both paths at 1× and N×, surviving bucket counts, and
    // the row-count parity that proves the pruned read lost nothing.
    def zonemapLeg(tag: String, nCopies: Int): String = {
      val dataDir = s"$scratch/corpus_$tag" // dmlLeg materialized it
      val d = Tables.documents(spark, dataDir)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("updated_at", lit(0L))
      val root = s"$scratch/zmap_$tag"
      val t = new BucketedStateTable(spark, root,
        keyCols = Seq("doc_id"), numBuckets = 256,
        keepCommits = 5, retentionFloorMillis = 0L,
        statsCols = Seq("updated_at"))
      t.merge(d, keys = Seq("doc_id"))
      t.merge(d.filter(col("doc_id").between(150, 165))
          .withColumn("updated_at", lit(1L)),
        keys = Seq("doc_id"))
      import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
      val fresh = Seq(GreaterThanOrEqual("updated_at", 1L))
      val freshBuckets = t.readWhere(fresh).get.inputFiles.toSeq
        .flatMap(StateManifest.bucketOf).distinct.length
      val (fullRows, fullSec, fullSnap) = timed {
        t.read().get.filter(col("updated_at") >= 1L).count()
      }
      val (prunedRows, prunedSec, prunedSnap) = timed {
        t.readWhere(fresh).get.filter(col("updated_at") >= 1L).count()
      }
      require(fullRows == prunedRows,
        s"pruned freshness scan lost rows: $prunedRows vs $fullRows")
      val (pointRows, pointSec, _) = timed {
        t.readWhere(Seq(EqualTo("doc_id", 155L))).get
          .filter(col("doc_id") === 155L).count()
      }
      val (_, fullPointSec, _) = timed {
        t.read().get.filter(col("doc_id") === 155L).count()
      }
      require(pointRows == 1L, s"point lookup found $pointRows rows")
      s""""$tag":{"fresh_rows":$fullRows,"fresh_buckets":$freshBuckets,""" +
        s""""buckets_total":256,"fresh_full_sec":${num(fullSec)},""" +
        s""""fresh_pruned_sec":${num(prunedSec)},""" +
        s""""fresh_full_resources":${fullSnap.json},""" +
        s""""fresh_pruned_resources":${prunedSnap.json},""" +
        s""""point_pruned_sec":${num(pointSec)},""" +
        s""""point_full_sec":${num(fullPointSec)}}"""
    }
    val zmap1 = zonemapLeg("x1", 1)
    val zmapN = zonemapLeg(s"x$copies", copies)

    // ── leg 7: §7.6 migration round-trip at table scale ───────────────
    // exportTo writes one consistent columnar snapshot; importFrom
    // adopts it as commit 1 of a FRESH table under a DIFFERENT layout
    // (re-bucket 256 -> 128) with the ANALYZE zone-map retrofit. Both
    // sides are one full-snapshot pass — the one-time migration price —
    // so expected ~row-linear with zero spill; the full-tuple diff
    // parity proves the adopted state byte-equals the source.
    def migrationLeg(tag: String): String = {
      val srcRoot = s"$scratch/zmap_$tag" // zonemapLeg's table, populated
      val t = new BucketedStateTable(spark, srcRoot,
        keyCols = Seq("doc_id"), numBuckets = 256,
        keepCommits = 5, retentionFloorMillis = 0L,
        statsCols = Seq("updated_at"))
      val (exRows, exSec, exSnap) = timed { t.exportTo(s"$scratch/export_$tag") }
      val dst = new BucketedStateTable(spark, s"$scratch/import_$tag",
        keyCols = Seq("doc_id"), numBuckets = 128,
        retentionFloorMillis = 0L, statsCols = Seq("updated_at"))
      val (imRows, imSec, imSnap) = timed {
        dst.importFrom(s"$scratch/export_$tag", analyzeAfter = true)
      }
      require(exRows == imRows,
        s"migration leg $tag: exported $exRows rows but adopted $imRows")
      val a = t.read().get
      val b = dst.read().get
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      require(diff == 0L, s"migration leg $tag: round-trip diff $diff rows")
      s""""$tag":{"rows":$exRows,"export_sec":${num(exSec)},""" +
        s""""import_sec":${num(imSec)},"export_resources":${exSnap.json},""" +
        s""""import_resources":${imSnap.json},"diff_rows":$diff}"""
    }
    val mig1 = migrationLeg("x1")
    val migN = migrationLeg(s"x$copies")

    val json =
      s"""{"base_sf_dir":"$sfDir","vol_factor":$volFactor,"copies":$copies,""" +
        s""""note":"leg cdc_volume: FIXED corpus ($nDocs docs, 64 buckets), change volume grows - prices changesBetween rewritten-bucket reads and maintainSumCount group-delta shuffle by CHANGED rows; leg sql_dml: fixed 16-key MERGE/UPDATE/DELETE vs a table grown by divergent copies (256 buckets) - manifest pointer diff counts the rewritten buckets; leg coalesce_at_scale: the inverse relayout priced like split_at_scale; leg feed_backlog: a 24-commit backlog drained with maxCommitsPerTrigger=4 vs uncapped - the cap bounds the peak batch at modest wall cost; leg zonemap_prune: manifest zone maps (statsCols=updated_at) - a freshness scan plans only the buckets touched since T and a key point lookup hash-prunes to 1 of 256, against full scans of the same table; leg migration_roundtrip: exportTo then importFrom (re-bucket 256 to 128, ANALYZE retrofit) priced at 1x and Nx with full-tuple diff parity - the one-time full-snapshot migration cost",""" +
        s""""cdc_volume":{$cdc1,$cdcN},"sql_dml":{$dml1,$dmlN},""" +
        s""""split_at_scale":{$split1,$splitN},""" +
        s""""coalesce_at_scale":{$coal1,$coalN},""" +
        s""""feed_backlog":{$backlog1,$backlogN},""" +
        s""""feed_rowcap_drain":{$rowcap},""" +
        s""""zonemap_prune":{$zmap1,$zmapN},""" +
        s""""migration_roundtrip":{$mig1,$migN}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALE_PROBE_CDC_VOL.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    try {
      val rp = new org.apache.hadoop.fs.Path(scratch)
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    } catch { case _: Throwable => () }
    spark.stop()
  }
}

/** Multi-writer commit-throughput probe for [[BucketedStateTable]] —
  * the evidence leg behind disjoint-bucket optimistic concurrency.
  * Three measurements, written to `SCALE_PROBE_MULTIWRITER.json`:
  *
  *  1. '''writers_leased''' — 4 genuinely concurrent writer threads on
  *     the SAME table, coordinated only by the shared filesystem lease
  *     (each thread opens the table through its own symlink alias, so
  *     the JVM per-path monitor — an in-process convenience a real
  *     multi-process deployment does not have — keys differently and
  *     stays out of the way). Bucket-disjoint batches; expected: every
  *     commit lands, zero withdrawals, zero rebases (the lease
  *     serializes), and the commits/sec number prices the serialized
  *     commit pipeline including lease handoff.
  *
  *  2. '''raced_disjoint''' — every publish races a foreign commit
  *     (injected in the publish window through a second handle whose
  *     lease scope is separate, i.e. the coordination-failed world the
  *     manifest check defends) that rewrote DISJOINT buckets. Expected:
  *     every commit lands by REBASE — no exception reaches the caller,
  *     no data rewrite is repeated.
  *
  *  3. '''raced_overlap''' — same interleaving but the foreign commit
  *     rewrote the SAME buckets. Expected: every publish withdraws and
  *     the caller retries the mutation from scratch. The wall-clock
  *     ratio vs leg 2 is the retry-from-scratch cost the rebase path
  *     removes for the (overwhelmingly common at 100 TB) case of
  *     ingest jobs landing in different buckets.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  * sbt "runMain graft.MultiWriterProbe"`. Knobs:
  * SPARK_GRAFT_PROBE_WRITERS (default 4), SPARK_GRAFT_PROBE_ROUNDS
  * (commits per writer / per raced leg, default 8), SPARK_GRAFT_CPUS. */
object MultiWriterProbe {

  private def num(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nWriters = sys.env.getOrElse("SPARK_GRAFT_PROBE_WRITERS", "4").toInt.max(2)
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROUNDS", "8").toInt.max(2)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = BenchMetrics.install(spark.sparkContext)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-mwprobe-").toString

    def timed[A](body: => A): (A, Double, BenchMetrics.Snapshot) = {
      Tables.dropCachedLeftovers(spark)
      metrics.reset()
      val t0 = System.nanoTime()
      val a = body
      ((a, (System.nanoTime() - t0) / 1e9,
        metrics.snapshot(spark.sparkContext)))
    }

    val NB = 256
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
    val nDocs = docs.count()

    // a probe window of ids grouped by the bucket they hash into —
    // the raw material for provably disjoint (or overlapping) batches
    val byBucket: Map[Int, Seq[Long]] = docs.limit(8192)
      .select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(NB.toLong)).cast("int").as("b"))
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._2).map { case (b, xs) => b -> xs.map(_._1).sorted }
    val bucketsSorted = byBucket.keys.toSeq.sorted
    // buckets dealt round-robin to writers -> writer batches can never
    // share a bucket with another writer's
    val writerBuckets: Seq[Seq[Int]] = (0 until nWriters).map(w =>
      bucketsSorted.zipWithIndex.collect { case (b, i) if i % nWriters == w => b })
    def batchIds(w: Int, it: Int): Seq[Long] =
      writerBuckets(w).flatMap(b => byBucket(b).lift(it)).take(16)
    def frame(ids: Seq[Long], v: Long) = {
      import spark.implicits._
      ids.toDF("doc_id").withColumn("n_chars", lit(v))
    }

    // retention floor ON (as any deployment with concurrent
    // readers/writers runs): a zero floor lets a foreign commit's prune
    // physically delete a data dir an in-flight mutation's plan still
    // references — the raced legs hit exactly that without it
    def newTable(path: String,
        store: Option[graft.pipeline.LeaseStore] = None) =
      new BucketedStateTable(spark, path, keyCols = Seq("doc_id"),
        numBuckets = NB, keepCommits = 4,
        retentionFloorMillis = 10 * 60 * 1000L, leaseStore = store)

    // ── leg 1: concurrent leased writers ─────────────────────────────
    // ONE genuinely atomic lease (the InMemoryCasStore semantics an
    // object-store conditional-put adapter provides) shared by all
    // writers. The local filesystem's create-if-absent is the
    // documented best-effort window — under 4 simultaneous acquirers
    // it reliably double-grants, two writers plan the same data-commit
    // id, and their parquet jobs corrupt each other's _temporary dirs:
    // exactly the failure mode the lease exists to prevent, observed
    // live when this leg first ran on the FS slot.
    val casLease = new graft.pipeline.InMemoryCasStore
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$scratch/real"))
    val seedT = newTable(s"$scratch/real/state", store = Some(casLease))
    seedT.merge(docs, keys = Seq("doc_id"))
    val writers = (0 until nWriters).map { i =>
      val link = java.nio.file.Paths.get(s"$scratch/alias_$i")
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$scratch/real"))
      newTable(s"$scratch/alias_$i/state", store = Some(casLease))
    }
    val retries = new java.util.concurrent.atomic.AtomicInteger
    val rebases = new java.util.concurrent.atomic.AtomicInteger
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val (_, leasedSec, leasedSnap) = timed {
      val threads = (0 until nWriters).map { w =>
        new Thread(() => {
          try {
            var it = 0
            while (it < rounds) {
              // negative probe values: n_chars is never negative in the
              // corpus, so the lost-update audit below can identify
              // probe-written rows unambiguously
              val upd = frame(batchIds(w, it), -(1000000L + it))
              var done = false
              while (!done) {
                try {
                  writers(w).merge(upd, keys = Seq("doc_id"))
                  rebases.addAndGet(
                    writers(w).lastCommit.map(_.rebases).getOrElse(0))
                  done = true
                } catch {
                  case _: java.util.ConcurrentModificationException =>
                    retries.incrementAndGet()
                }
              }
              it += 1
            }
          } catch { case t: Throwable => failures.add(t) }
        }, s"mw-writer-$w")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    require(failures.isEmpty, s"writer thread failed: ${failures.peek()}")
    val leasedCommits = nWriters * rounds
    // every batch landed exactly once: the touched window carries each
    // writer's final value
    val finalReads = seedT.read().get
      .filter(col("n_chars") <= -1000000L).count()
    val expectedTouched = (0 until nWriters)
      .flatMap(w => (0 until rounds).flatMap(it => batchIds(w, it)))
      .distinct.size
    require(finalReads == expectedTouched,
      s"lost update: $finalReads of $expectedTouched touched rows carry probe values")
    val leased =
      s""""writers_leased":{"writers":$nWriters,"commits":$leasedCommits,""" +
        s""""wall_sec":${num(leasedSec)},""" +
        s""""commits_per_sec":${num(leasedCommits / leasedSec)},""" +
        s""""withdrawn_retries":${retries.get},"rebases":${rebases.get},""" +
        s""""resources":${leasedSnap.json}}"""

    // ── legs 2+3: raced publishes, disjoint vs overlapping ───────────
    def racedLeg(tag: String, overlap: Boolean): String = {
      val root = s"$scratch/raced_$tag/state"
      val t = newTable(root)
      t.merge(docs, keys = Seq("doc_id"))
      // the foreign writer: separate lease scope by construction — the
      // coordination-failed interleaving the manifest check (and the
      // rebase) exists for
      val t2 = newTable(root,
        store = Some(new graft.pipeline.InMemoryCasStore))
      var rebased = 0
      var withdrawn = 0
      val (_, sec, snap) = timed {
        var it = 0
        while (it < rounds) {
          val ours = batchIds(0, it)
          val theirs = if (overlap) ours else batchIds(1, it)
          t.beforePublish = () => {
            t.beforePublish = () => ()
            t2.merge(frame(theirs, -1L), keys = Seq("doc_id"))
          }
          try {
            t.merge(frame(ours, 2000000L + it), keys = Seq("doc_id"))
            rebased += t.lastCommit.map(_.rebases).getOrElse(0)
          } catch {
            case _: java.util.ConcurrentModificationException =>
              withdrawn += 1
              t.merge(frame(ours, 2000000L + it), keys = Seq("doc_id"))
          }
          it += 1
        }
      }
      s""""raced_$tag":{"commits":$rounds,"wall_sec":${num(sec)},""" +
        s""""commits_per_sec":${num(rounds / sec)},""" +
        s""""rebases":$rebased,"withdrawn_full_retries":$withdrawn,""" +
        s""""resources":${snap.json}}"""
    }
    val disjoint = racedLeg("disjoint", overlap = false)
    val overlapL = racedLeg("overlap", overlap = true)

    val json =
      s"""{"base_sf_dir":"$sfDir","table_rows":$nDocs,"num_buckets":$NB,""" +
        s""""note":"writers_leased: $nWriters concurrent threads, one shared FS lease (symlink aliases keep the in-process monitor out of the way), bucket-disjoint batches - prices the serialized commit pipeline; raced_disjoint/raced_overlap: every publish races a foreign commit injected in the publish window by a lease-blind handle - disjoint buckets land by REBASE (no caller exception, no repeated data write), overlapping buckets withdraw and the caller re-merges from scratch",""" +
        s"""$leased,$disjoint,$overlapL}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALE_PROBE_MULTIWRITER.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    try {
      val rp = new org.apache.hadoop.fs.Path(scratch)
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
