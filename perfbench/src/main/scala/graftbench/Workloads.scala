package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One output check and whether it held. */
final case class Check(name: String, passed: Boolean, detail: String = "")

/** A benchmark workload: a YAML pipeline, the seeded inputs it reads, and
  * an independent check of what it writes. */
trait Workload {
  def name: String
  /** The pipeline, relative to the checkout root. */
  def yamlPath: String
  /** Values for the YAML's `${VAR}` placeholders. */
  def vars(dataDir: String, outDir: String): Map[String, String]
  def generate(spark: SparkSession, dataDir: String, seed: Long, smoke: Boolean): Unit
  /** Computes the reference the checks compare against; runs once, untimed. */
  def prepare(spark: SparkSession, dataDir: String, seed: Long): Unit
  def check(spark: SparkSession, outDir: String): Seq[Check]
  /** Set-up rounds behind the `setup_s` median. */
  def setupRounds: Int = 3
}

object Workloads {
  def byName(name: String, benchDir: String): Workload = name match {
    case "sales_etl"      => new SalesEtl
    case "event_sessions" => new EventSessions(benchDir)
    case "doc_curation"   => new DocCuration(benchDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (sales_etl | event_sessions | doc_curation)")
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

import Workloads.close

/** examples/sales_pipeline.yaml over 600k orders and about 2.4M lines (4× sf0.1). */
final class SalesEtl extends Workload {
  val name = "sales_etl"
  val yamlPath = "examples/sales_pipeline.yaml"
  def vars(dataDir: String, outDir: String) = Map("GRAFT_SF_DIR" -> dataDir)
  def generate(spark: SparkSession, dataDir: String, seed: Long, smoke: Boolean): Unit =
    Inputs.sales(spark, dataDir, seed, if (smoke) 3000L else 600000L)

  private var expected = Map.empty[String, (Double, Double, Long)]

  def prepare(spark: SparkSession, dataDir: String, seed: Long): Unit =
    expected = spark.sql(
      s"""SELECT o.o_orderpriority,
         |       SUM(l.l_extendedprice * (1 - l.l_discount)),
         |       AVG(l.l_extendedprice * (1 - l.l_discount)),
         |       COUNT(l.l_quantity)
         |FROM parquet.`$dataDir/lineitem.parquet` l
         |JOIN parquet.`$dataDir/orders.parquet` o ON l.l_orderkey = o.o_orderkey
         |WHERE l.l_quantity > 0
         |GROUP BY o.o_orderpriority""".stripMargin)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap

  def check(spark: SparkSession, outDir: String): Seq[Check] = {
    val got = spark.read.parquet(outDir)
      .select("o_orderpriority", "revenue_sum", "revenue_avg", "l_quantity_count").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    val bad = (expected.keySet ++ got.keySet).filterNot { k =>
      (expected.get(k), got.get(k)) match {
        case (Some((s1, a1, n1)), Some((s2, a2, n2))) => close(s1, s2) && close(a1, a2) && n1 == n2
        case _ => false
      }
    }
    Seq(Check("reference_aggregate", bad.isEmpty && got.nonEmpty,
      if (bad.isEmpty) s"${got.size} groups" else s"mismatched groups: ${bad.mkString(", ")}"))
  }
}

/** perfbench/pipelines/event_sessions.yaml over 200k seeded events of 4,000 users. */
final class EventSessions(benchDir: String) extends Workload {
  val name = "event_sessions"
  val yamlPath = s"$benchDir/pipelines/event_sessions.yaml"
  def vars(dataDir: String, outDir: String) =
    Map("GRAFT_BENCH_DATA" -> dataDir, "GRAFT_BENCH_OUT" -> outDir)
  def generate(spark: SparkSession, dataDir: String, seed: Long, smoke: Boolean): Unit =
    if (smoke) Inputs.events(spark, dataDir, seed, 5000L, 200)
    else Inputs.events(spark, dataDir, seed, 200000L, 4000)

  /** user → (sessions, events) */
  private var expected = Map.empty[Long, (Long, Long)]

  /** Sessions per user from a lag over each user's events: a gap of at
    * least 30 minutes (the YAML's gap_seconds) opens a new session. */
  def prepare(spark: SparkSession, dataDir: String, seed: Long): Unit =
    expected = spark.sql(
      s"""SELECT user_id, 1 + SUM(CASE WHEN gap >= 1800000000 THEN 1 ELSE 0 END), COUNT(*)
         |FROM (SELECT user_id,
         |             unix_micros(t) - LAG(unix_micros(t)) OVER (PARTITION BY user_id ORDER BY t) AS gap
         |      FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS t
         |            FROM parquet.`$dataDir/events.parquet`)
         |      WHERE user_id IS NOT NULL AND t IS NOT NULL)
         |GROUP BY user_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  def check(spark: SparkSession, outDir: String): Seq[Check] = {
    val got = spark.read.parquet(outDir).groupBy("user_id")
      .agg(max("session_id"), count(lit(1)), countDistinct("session_id"), count("value_ewm"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // session ids must run 1..k per user, with k the reference's count
    val sessionsOff = (expected.keySet ++ got.keySet).count { k =>
      (expected.get(k), got.get(k)) match {
        case (Some((s, _)), Some((m, _, d, _))) => s != m || d != m
        case _ => true
      }
    }
    val rowsOff = expected.keySet.count(k => got.get(k).forall { case (_, n, _, e) =>
      n != expected(k)._2 || e != n })
    Seq(
      Check("sessions_per_user", sessionsOff == 0 && got.nonEmpty,
        s"${got.size} users, $sessionsOff differ from the lag/gap reference"),
      Check("rows_per_user", rowsOff == 0,
        s"$rowsOff users with a row count or non-null EWM count off"))
  }
}

/** examples/training_data_pipeline.yaml, unchanged, over 5,000 seeded documents. */
final class DocCuration(benchDir: String) extends Workload {
  val name = "doc_curation"
  val yamlPath = "examples/training_data_pipeline.yaml"
  // each round includes a warm-up execute, and one execute takes minutes
  override def setupRounds: Int = 1
  def vars(dataDir: String, outDir: String) = Map("GRAFT_SF_DIR" -> dataDir,
    "GRAFT_BLOCKLIST" -> s"$dataDir/blocklist.parquet", "GRAFT_OUT" -> outDir)
  def generate(spark: SparkSession, dataDir: String, seed: Long, smoke: Boolean): Unit =
    Inputs.documents(spark, dataDir, seed, if (smoke) 200L else 5000L)

  private var blocklist: String = _
  private var stored: Option[String] = None
  private val digests = scala.collection.mutable.ArrayBuffer.empty[String]

  /** The stored digest file holds one `seed digest` pair per line. */
  def prepare(spark: SparkSession, dataDir: String, seed: Long): Unit = {
    blocklist = s"$dataDir/blocklist.parquet"
    val f = java.nio.file.Paths.get(benchDir, "expected", "doc_curation.digest")
    stored = if (!java.nio.file.Files.exists(f)) None else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f).asScala.map(_.trim.split("\\s+"))
        .collectFirst { case Array(s, d) if s == seed.toString => d }
    }
  }

  def check(spark: SparkSession, outDir: String): Seq[Check] = {
    val out = spark.read.parquet(outDir)
    // order-independent: a sum of per-row hashes over every column (doubles
    // rounded to 6 places, so summation order inside the program is not
    // mistaken for a content change)
    val cols = out.schema.fields.sortBy(_.name).map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType) round(col(f.name), 6) else col(f.name)
    }
    val bad = spark.read.parquet(blocklist)
    val r = out.agg(count(lit(1)),
      sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")),
      sum(when(col("split").isin("train", "val", "test"), 0).otherwise(1)),
      sum(when(length(col("chunk_text")) > 0, 0).otherwise(1))).collect()(0)
    val digest = s"${r.getLong(0)}:${r.getDecimal(1)}"
    digests += digest
    val blocked = out.join(bad, out("doc_id") === bad("bad_id"), "left_semi").count()
    Seq(
      Check("digest_stable", digests.distinct.size == 1, s"digest $digest"),
      Check("no_blocklisted_ids", blocked == 0, s"$blocked blocklisted rows"),
      Check("split_in_train_val_test", r.getLong(2) == 0, s"${r.getLong(2)} rows outside"),
      Check("chunk_text_nonempty", r.getLong(3) == 0, s"${r.getLong(3)} empty chunks")) ++
      stored.map(s => Check("digest_matches_stored", s == digest, s"stored $s"))
  }
}
