package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TimeSeriesLib
import graft.quality.Profiler
import graft.vec.Prototypes

/** graft.core.SegmentedScan operators are plan nodes: building their
  * frames runs no Spark job and `explain` shows the node. Their
  * cross-partition carries reproduce a window-function reference exactly
  * when one key spans many partitions.
  */
class SegmentedScanSpec extends SparkSpec {

  /** Spark jobs started while `build` runs. */
  private def jobsDuring[T](build: => T): (T, Int) = {
    drainListenerBus()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (!isDrainMarker(j)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = build
      drainListenerBus()
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** 16 shuffle partitions, AQE coalescing off: at spec scale AQE would
    * coalesce a range shuffle to ONE partition and quietly skip the
    * cross-boundary carries under test. */
  private def sixteenPartitions[T](body: => T): T = {
    val settings = Seq("spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = settings.map { case (k, _) => k -> spark.conf.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("segmented-scan operators build without running a Spark job; explain shows SegmentedScan") {
    // range-shuffled input: an RDD escape over it runs the range sampling
    // and map-stage jobs before any action
    val events = spark.range(20000).select(
        concat(lit("u"), pmod(col("id"), lit(7))).as("user"),
        timestamp_micros(col("id") * 60000000L).as("ts"),
        col("id").as("seq"),
        pmod(col("id"), lit(13)).cast("double").as("x"),
        concat(lit("s"), pmod(col("id"), lit(5))).as("state"))
      .repartitionByRange(8, col("seq"))
    val builders: Seq[(String, () => DataFrame)] = Seq(
      "sessionize" -> (() => TimeSeriesLib.sessionize(events, "ts", 1800L, Seq("user"))),
      "smoothEwm" -> (() => TimeSeriesLib.smoothEwm(events, "x", 0.3, "ts", Seq("user"))),
      "transitionMatrix" ->
        (() => TimeSeriesLib.transitionMatrix(events, "state", Seq("seq"), Seq("user"))),
      "interArrivalStatsScalable" ->
        (() => TimeSeriesLib.interArrivalStatsScalable(events, "ts", Seq("user"), Seq("ts", "seq"))),
      "spearmanLarge" -> (() => Profiler.spearmanLarge(events, "x", "seq")))
    builders.foreach { case (name, build) =>
      val (frame, jobs) = jobsDuring(build())
      assert(jobs == 0, s"$name ran $jobs Spark job(s) while its plan was built")
      val plan = frame.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      assert(plan.contains("SegmentedScan"), s"$name plan shows no SegmentedScan node:\n$plan")
    }
  }

  test("transitionMatrix: one entity spanning many partitions matches a lead() reference exactly") {
    sixteenPartitions {
      // 95% of events belong to one entity, so its series range-splits and
      // every boundary pair comes from a partition's carry
      val events = spark.range(20000).select(
        when(col("id") % 20 < 19, lit("bot"))
          .otherwise(concat(lit("u"), pmod(col("id"), lit(50)))).as("entity"),
        col("id").as("seq"),
        concat(lit("s"), pmod(xxhash64(col("id")), lit(4))).as("state"))
      def table(df: DataFrame): Set[(String, String, Long)] =
        df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val got = table(TimeSeriesLib.transitionMatrix(events, "state", Seq("seq"), Seq("entity"))
        .select("from_state", "to_state", "n"))
      val ref = table(events
        .withColumn("next", lead(col("state"), 1).over(Window.partitionBy("entity").orderBy("seq")))
        .filter(col("next").isNotNull)
        .groupBy(col("state"), col("next")).agg(count(lit(1)).as("n")))
      assert(got == ref, s"segmented $got vs lead() $ref")
      val botParts = events.repartitionByRange(col("entity"), col("seq"))
        .filter(col("entity") === "bot").select(spark_partition_id()).distinct().count()
      assert(botParts > 1, "the hot entity must span several range partitions")
    }
  }

  test("protoSelectMap: proto_rank/kept match a row_number() reference across partition boundaries") {
    sixteenPartitions {
      // 80% of vectors fall in cluster 0, which straddles range partitions;
      // rounded cosines tie often, so the id tiebreak is exercised too
      val vecs = spark.range(20000).select(col("id"),
        when(col("id") % 5 < 4,
          array(lit(1.0), (pmod(col("id"), lit(997)) / 1e4).cast("double"), lit(0.0)))
          .otherwise(array((pmod(col("id"), lit(13)) / 20.0).cast("double"), lit(0.0), lit(1.0)))
          .as("v"))
      val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0))
      val m = Prototypes.protoSelectMap(vecs, "id", "v", cents, 0.3)
      val ref = m
        .withColumn("ref_rank", row_number().over(
          Window.partitionBy("cluster").orderBy(col("cos_to_centroid").desc, col("id"))))
        .withColumn("ref_kept", col("ref_rank") >
          floor(lit(0.3) * count(lit(1)).over(Window.partitionBy("cluster"))))
      assert(ref.count() == 20000L)
      val bad = ref.filter(col("proto_rank") =!= col("ref_rank") || col("kept") =!= col("ref_kept"))
      assert(bad.count() == 0L, s"rank/kept mismatches, e.g. ${bad.limit(5).collect().toSeq}")
      val clusterParts = m
        .repartitionByRange(col("cluster"), col("cos_to_centroid").desc, col("id"))
        .filter(col("cluster") === 0).select(spark_partition_id()).distinct().count()
      assert(clusterParts > 1, "cluster 0 must straddle a range-partition boundary")
    }
  }

  test("a segmented-scan frame joins with itself") {
    import spark.implicits._
    val s = TimeSeriesLib.sessionize(
      Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("u", "t").withColumn("ts", timestamp_seconds(col("t"))),
      "ts", 1800L, Seq("u"))
    val j = s.as("l").join(s.as("r"), col("l.u") === col("r.u") && col("l.t") === col("r.t"))
    assert(j.select(col("l.session_id"), col("r.session_id")).collect().forall(r => r.getLong(0) == r.getLong(1)))
    assert(j.count() == 3L)
  }
}
