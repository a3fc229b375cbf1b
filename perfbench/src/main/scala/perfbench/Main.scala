package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.GraftSession

/** One measured op. `work` is the op's unit of work (requests or gold
  * rows, per workload); `layers` holds the op's per-layer values
  * (request phases on every run, engine values on traced ops);
  * `traced` says whether the tracer was attached while it ran. */
final case class OpResult(
    id: Int, kind: String, wallS: Double, ok: Boolean, work: Long,
    failure: String, layers: Map[String, Double], traced: Boolean = false)

/** A workload: one-time set-up, an untimed warm-up op, optional further
  * warm-up, measured ops and untimed output checks. */
trait Workload {
  /** One-time set-up on a fresh session; returns set-up layer values. */
  def setup(s: SparkSession): Map[String, Double]
  /** The untimed warm-up op that ends set-up (part of setup_s). */
  def warmupOp(s: SparkSession): Unit
  /** Further untimed warm-up after set-up (not part of setup_s). */
  def warmupRest(s: SparkSession): Unit = ()
  def hasNext: Boolean
  def op(s: SparkSession, id: Int, tr: Option[Trace]): OpResult
  /** Untimed checks after the measured ops: failure messages keyed by
    * op id (-1 = not tied to one op). */
  def finalChecks(s: SparkSession): Seq[(Int, String)]
}

object Main {
  val Cores = 4
  private implicit val formats: Formats = DefaultFormats

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def writeJson(path: String, value: AnyRef): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), Serialization.write(value).getBytes("UTF-8"))

  /** Heap in use after full GCs, once two readings in a row agree
    * within 1% (at most five collections). */
  private def retainedHeapMb(s: SparkSession): Double = {
    org.apache.spark.GraftBusFlush.flush(s.sparkContext)
    val mem = ManagementFactory.getMemoryMXBean
    def read(): Double = { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var prev = read()
    var cur = read()
    var n = 2
    while (math.abs(cur - prev) > 0.01 * prev && n < 5) { prev = cur; cur = read(); n += 1 }
    cur
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val runSeconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val manifest = Manifest.read(opts("manifest"))
    val work = opts("work")
    val out = opts("out")

    val workload: Workload = workloadName match {
      case "interactive" => new Interactive(manifest, work)
      case "sales_nightly" => new SalesNightly(manifest, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: from JVM start through session bring-up, the workload's
    // one-time set-up and one untimed warm-up op
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = GraftSession.local(Cores)
    spark.sparkContext.setLogLevel("ERROR")
    val bringupS = seconds(t0)
    val setupLayers = workload.setup(spark) + ("session.bringup_s" -> bringupS)
    workload.warmupOp(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    workload.warmupRest(spark)

    // traced runs trace every second round (untraced, traced, untraced,
    // ...), so the tracing overhead is read inside one run under the same
    // host load, over rounds that each hold the whole request mix, with
    // the traced round between untraced ones
    val tr = if (traced) Some(new Trace(spark)) else None
    val ops = mutable.ArrayBuffer.empty[OpResult]
    LoadSentinel.read(spark) // the first reading compiles the sentinel job
    val loadPre = LoadSentinel.read(spark)
    val loopStartMs = System.currentTimeMillis()
    val t2 = System.nanoTime()
    var round = 0
    // measure whole rounds until at least the requested time has passed
    // and the workload's minimum number of rounds (three when tracing)
    // is done, so a slow host does not shrink the sample
    val minRounds = if (traced) math.max(3, manifest.minRounds) else manifest.minRounds
    while (workload.hasNext && (round < minRounds || seconds(t2) < runSeconds)) {
      (0 until manifest.roundLength).takeWhile(_ => workload.hasNext).foreach { _ =>
        val id = ops.size
        val opTr = tr.filter(_ => round % 2 == 1)
        val r =
          try workload.op(spark, id, opTr)
          catch { case e: Exception => OpResult(id, "error", Double.NaN, ok = false, 0L, s"threw: $e", Map.empty) }
        ops += r.copy(traced = opTr.isDefined)
        if (!r.ok) System.err.println(s"[perfbench] op $id failed: ${r.failure}")
      }
      round += 1
    }
    val measuredS = seconds(t2)
    val loadPost = LoadSentinel.read(spark)
    val heapMb = retainedHeapMb(spark)

    val checkFailures =
      try workload.finalChecks(spark)
      catch { case e: Exception => Seq(-1 -> s"output check threw: $e") }
    checkFailures.foreach { case (i, m) => System.err.println(s"[perfbench] check failed (op $i): $m") }
    tr.foreach { t =>
      t.add(Span(-1, "workload", workloadName, loopStartMs, loopStartMs + (measuredS * 1000).toLong))
      t.writeSpans(s"$work/spans.jsonl")
    }
    spark.stop()

    writeJson(out, Map(
      "workload" -> workloadName,
      "setup_s" -> setupS,
      "measured_s" -> measuredS,
      "retained_heap_mb" -> heapMb,
      "load_sentinel_s" -> Seq(loadPre, loadPost),
      "ops" -> ops.map { r =>
        Map("id" -> r.id, "kind" -> r.kind, "wall_s" -> (if (r.wallS.isNaN) None else Some(r.wallS)),
          "ok" -> r.ok, "work" -> r.work, "failure" -> r.failure, "layers" -> r.layers, "traced" -> r.traced)
      },
      "check_failures" -> checkFailures.map { case (i, m) => Map("op" -> i, "message" -> m) },
      "layers" -> setupLayers))
  }
}

/** Informational load sentinel: a fixed CPU-bound Spark job timed
  * before and after the measured ops. run.py reports the post reading
  * relative to the pre reading of the same run, so the figure does not
  * depend on the box's absolute speed. It is never a gate. */
object LoadSentinel {
  def read(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    s.range(0L, 20000000L, 1L, Main.Cores).selectExpr("sum(hash(id, id + 1))").collect()
    Main.seconds(t0)
  }
}

/** The generator's manifest (see gen.py). */
final case class Manifest(
    salesDir: String, warmupDir: String, requests: Seq[String], warmup: Seq[String],
    roundLength: Int, minRounds: Int, bronzeValid: Long)

object Manifest {
  def read(path: String): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    Manifest(
      salesDir = (j \ "sales_dir").extractOrElse[String](""),
      warmupDir = (j \ "warmup_dir").extractOrElse[String](""),
      requests = (j \ "requests").extractOrElse[List[String]](Nil),
      warmup = (j \ "warmup").extractOrElse[List[String]](Nil),
      roundLength = (j \ "round_length").extractOrElse[Int](1),
      minRounds = (j \ "min_rounds").extractOrElse[Int](1),
      bronzeValid = (j \ "expect" \ "bronze_valid").extractOrElse[Long](-1L))
  }
}
