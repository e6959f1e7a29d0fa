package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.StateOps
import graft.pipeline.BucketedStateTable
import graft.streaming.{ForeachBatch, MaterializedAggStream}

/** MaterializedAggStream: a persistent count/sum view maintained from a
  * base state table's change feed must equal a from-scratch aggregate
  * of the base snapshot after every micro-batch — group-moving updates,
  * drained groups, replay, and restart included. */
class MaterializedAggStreamSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-matagg").toString

  /** The view over `root/base`'s change feed from `startingCommit`,
    * checkpointed at `root/ck`. */
  private def startView(root: String, view: BucketedStateTable,
      startingCommit: Long): StreamingQuery = {
    val feed = spark.readStream.format("graft-state-changes")
      .option("startingCommit", startingCommit).load(s"$root/base")
    ForeachBatch.start(feed, s"$root/ck", Trigger.ProcessingTime(0L)) { (df, id) =>
      MaterializedAggStream.processBatch(df, id, view, Seq("g"), "v",
        streamScope = s"$root/ck")
    }
  }

  test("view tracks the base table through inserts, group-moving updates, drains, and restart") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val base = new BucketedStateTable(spark, s"$root/base",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    val view = new BucketedStateTable(spark, s"$root/view",
      keyCols = Seq("g"), numBuckets = 4, retentionFloorMillis = 60_000L)

    // c1 = a real EMPTY commit, so startingCommit=c1 streams the whole
    // table history and the view bootstraps from nothing
    base.replaceAll(Seq.empty[(String, String, Long)].toDF("k", "g", "v"))
    val c1 = base.commits().last
    base.merge(Seq(("k1", "a", 10L), ("k2", "a", 20L), ("k3", "b", 30L),
      ("k4", "b", 40L)).toDF("k", "g", "v"), keys = Seq("k"))

    def viewRows(): Set[(String, Long, Long)] =
      view.read().map(_.select("g", "n_rows", "sum_v")
        .as[(String, Long, Long)].collect().toSet).getOrElse(Set.empty)
    def recomputed(): Set[(String, Long, Long)] =
      StateOps.aggregateShape(base.read().get, Seq("g"), "v")
        .as[(String, Long, Long)].collect().toSet

    def startQ() = startView(root, view, c1)

    val q = startQ()
    try {
      q.processAllAvailable()
      assert(viewRows() == Set(("a", 2L, 30L), ("b", 2L, 70L)))

      // group-moving update (k2: a→b) + a value update in place
      base.merge(Seq(("k2", "b", 25L), ("k1", "a", 11L)).toDF("k", "g", "v"),
        keys = Seq("k"))
      q.processAllAvailable()
      assert(viewRows() == recomputed())
      assert(viewRows() == Set(("a", 1L, 11L), ("b", 3L, 95L)))

      // drain group a entirely
      base.applyDelta(upserts = Seq.empty[(String, String, Long)].toDF("k", "g", "v"),
        deleteKeys = Seq(Tuple1("k1")).toDF("k"), keys = Seq("k"))
      q.processAllAvailable()
      assert(viewRows() == recomputed())
      assert(viewRows() == Set(("b", 3L, 95L)), "drained group must vanish")
    } finally q.stop()

    // direct replay: a marker-seen batch id is skipped, view unchanged
    val before = viewRows()
    val fakeFeed = Seq(("insert", "kX", "zzz", 1L))
      .toDF("change_type", "k", "g", "v")
    val ran = MaterializedAggStream.processBatch(fakeFeed, batchId = 0L,
      view, Seq("g"), "v", streamScope = s"$root/ck")
    assert(!ran && viewRows() == before,
      "replayed batch id must be a no-op on the view")

    // restart from the same checkpoint: no re-application, new commits flow
    base.merge(Seq(("k9", "c", 9L)).toDF("k", "g", "v"), keys = Seq("k"))
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      assert(viewRows() == recomputed())
      assert(viewRows() == Set(("b", 3L, 95L), ("c", 1L, 9L)))
    } finally q2.stop()
  }

  test("a NULL group value maintains as ONE group (null-safe joins), exactly like GROUP BY") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val base = new BucketedStateTable(spark, s"$root/base",
      keyCols = Seq("k"), numBuckets = 4, retentionFloorMillis = 60_000L)
    val view = new BucketedStateTable(spark, s"$root/view",
      keyCols = Seq("g"), numBuckets = 4, retentionFloorMillis = 60_000L)
    base.replaceAll(Seq.empty[(String, Option[String], Long)].toDF("k", "g", "v"))
    val c1 = base.commits().last
    // the null group exists from the start alongside a real one
    base.merge(Seq(("k1", None, 5L), ("k2", None, 7L),
      ("k3", Some("a"), 1L)).toDF("k", "g", "v"), keys = Seq("k"))

    def viewRows(): Set[(Option[String], Long, Long)] =
      view.read().map(_.select("g", "n_rows", "sum_v")
        .as[(Option[String], Long, Long)].collect().toSet).getOrElse(Set.empty)

    val q = startView(root, view, c1)
    try {
      q.processAllAvailable()
      assert(viewRows() == Set((None, 2L, 12L), (Some("a"), 1L, 1L)))

      // a delta touching the null group must FOLD into its existing
      // row — a plain equality join would split it into a stale row
      // and a delta-only row and keep one arbitrarily
      base.merge(Seq(("k4", Option.empty[String], 3L)).toDF("k", "g", "v"),
        keys = Seq("k"))
      q.processAllAvailable()
      assert(viewRows() == Set((None, 3L, 15L), (Some("a"), 1L, 1L)),
        s"null group must accumulate as one row, got ${viewRows()}")

      // draining the null group must delete exactly its view row
      base.applyDelta(
        upserts = Seq.empty[(String, Option[String], Long)].toDF("k", "g", "v"),
        deleteKeys = Seq("k1", "k2", "k4").map(Tuple1(_)).toDF("k"),
        keys = Seq("k"))
      q.processAllAvailable()
      assert(viewRows() == Set((Some("a"), 1L, 1L)),
        "a fully-drained null group must vanish from the view")
    } finally q.stop()
  }
}
