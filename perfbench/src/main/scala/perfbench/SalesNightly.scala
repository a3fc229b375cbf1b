package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.{JobGraph, SalesPipelineDag}

/** The nightly medallion refresh: one op is one sequential
  * `SalesPipelineDag.run` (validate → bronze → silver + SCD2 dim →
  * gold → marts + quality gate → metrics), every layer written as
  * parquet under the run's directory. */
final class SalesNightly(m: Manifest, work: String) extends Workload {
  private val root = s"$work/out/sales"

  /** DAG stage → layer metric; a stage not listed lands in
    * `sales.other_s`, so a new stage is never silently dropped. */
  private val stageLayer = Map(
    "validate_environment" -> "sales.bronze_s", "bronze_ingest" -> "sales.bronze_s",
    "silver_fact" -> "sales.silver_s", "scd_dim" -> "sales.scd_s", "gold_enrich" -> "sales.gold_s",
    "customer_metrics" -> "sales.marts_s", "monthly_mart" -> "sales.marts_s",
    "gold_quality_check" -> "sales.quality_s", "pipeline_metrics" -> "sales.quality_s")

  private def failed(rs: Seq[JobGraph.JobReport]): Seq[String] =
    rs.filterNot(_.status == JobGraph.Succeeded).map(r => s"${r.id}: ${r.status}")

  private def metric(rs: Seq[JobGraph.JobReport], id: String): Long =
    rs.find(_.id == id).map(_.metric).getOrElse(-1L)

  /** Set-up here is session bring-up alone. */
  def setup(s: SparkSession): Map[String, Double] = Map.empty

  /** The warm-up op: one run on the small warm-up copy of the inputs. */
  def warmupOp(s: SparkSession): Unit = {
    val bad = failed(SalesPipelineDag.run(s, m.warmupDir, s"$work/out/warmup"))
    if (bad.nonEmpty) throw new IllegalStateException(s"warm-up run failed: ${bad.mkString(", ")}")
  }

  def hasNext: Boolean = true

  def op(s: SparkSession, id: Int, tr: Option[Trace]): OpResult = {
    tr.foreach(_.beginOp(id))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val reports = SalesPipelineDag.run(s, m.salesDir, root)
    val wall = Main.seconds(t0)
    val persisted = s.sparkContext.getPersistentRDDs.size.toDouble
    val engine = tr.map(_.endOp())

    // untimed output checks: every stage succeeded, and bronze-valid,
    // silver, gold and the logged pipeline metric all equal the count
    // the generator derived from the bronze rules on its own
    val problems = mutable.ArrayBuffer.empty[String] ++ failed(reports)
    Seq("bronze_ingest", "silver_fact", "gold_enrich", "pipeline_metrics").foreach { st =>
      val got = metric(reports, st)
      if (got != m.bronzeValid) problems += s"$st reported $got rows, expected ${m.bronzeValid}"
    }

    // DAG stages rebuilt from the in-order reports of the sequential run
    var at = startMs
    val stages = mutable.Map((stageLayer.values.toSeq :+ "sales.other_s").map(_ -> 0.0): _*)
    reports.foreach { r =>
      tr.foreach(_.add(Span(id, "stage", r.id, at, at + r.millis)))
      at += r.millis
      stages(stageLayer.getOrElse(r.id, "sales.other_s")) += r.millis / 1000.0
    }
    val layers = tr match {
      case Some(t) =>
        t.add(Span(id, "op", "sales_nightly", startMs, startMs + (wall * 1000).toLong))
        Engine.layers(engine.get, wall) ++ t.selfTimes(id)
      case None => Map.empty[String, Double]
    }
    OpResult(id, "sales_nightly", wall, problems.isEmpty, metric(reports, "pipeline_metrics"),
      problems.mkString("; "), stages.toMap ++ layers ++ Map(
        "jobgraph.overhead_s" -> (wall - reports.map(_.millis).sum / 1000.0),
        "caching.persisted_after_op" -> persisted))
  }

  def finalChecks(s: SparkSession): Seq[(Int, String)] = Nil
}
