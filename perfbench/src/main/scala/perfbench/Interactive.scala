package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.vector.{Ivf, VectorOps}

/** Closed-loop dashboard traffic from one client: registry analytics
  * queries over the sales tables plus exact ANN probes against an IVF
  * index built and saved once in set-up. Read-only. */
final class Interactive(m: Manifest, work: String) extends Workload {
  private val dir = m.salesDir
  private val indexPath = s"$work/ivf"
  private val queries = SparkEntry.queries
  private var index: Ivf.Index = _
  private var next = 0
  private val TopK = 10
  private val NProbe = 4
  private val Lists = 16

  /** First result per analytics query (checked against DuckDB by
    * run.py) and every ANN answer (checked against brute force). */
  private val firstResult = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val annAnswers = mutable.ArrayBuffer.empty[(Int, Long, Int, Array[Row])]

  private def annQueries(s: SparkSession, from: Long, n: Int): DataFrame =
    s.read.parquet(s"$dir/ann_queries.parquet")
      .where(col("vec_id") >= 1000000000L + from && col("vec_id") < 1000000000L + from + n)

  def setup(s: SparkSession): Map[String, Double] = {
    implicit val spark: SparkSession = s
    val t0 = System.nanoTime()
    val built = Ivf.build(Tables.embeddings(s, dir), "vec_id", "embedding", k = Lists)
    Ivf.save(built, indexPath)
    built.release()
    index = Ivf.load(s, indexPath)
    Map("vector.ivf_build_s" -> Main.seconds(t0))
  }

  /** The warm-up op that ends set-up: the first request kind. */
  def warmupOp(s: SparkSession): Unit = request(s, m.warmup.head).collect()

  /** The rest of one untimed pass over every request kind, so measured
    * requests see a warm engine rather than first-use code generation. */
  override def warmupRest(s: SparkSession): Unit = m.warmup.tail.foreach(req => request(s, req).collect())

  private def request(s: SparkSession, req: String): DataFrame =
    if (req.startsWith("ann:")) {
      val Array(_, from, n) = req.split(":")
      Ivf.probeExact(index, annQueries(s, from.toLong, n.toInt), "vec_id", "embedding", NProbe, TopK)(s)
    } else queries(req)(s, dir)

  def hasNext: Boolean = next < m.requests.size

  def op(s: SparkSession, id: Int, tr: Option[Trace]): OpResult = {
    val req = m.requests(next)
    next += 1
    tr.foreach(_.beginOp(id))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = request(s, req)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = df.collect()
    val t3 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val wall = (t3 - t0) / 1e9
    val persisted = s.sparkContext.getPersistentRDDs.size.toDouble
    val engine = tr.map(_.endOp())
    val kind = if (req.startsWith("ann:")) "ann" else req

    // untimed: repeats of a query must return its first answer
    var failure = ""
    if (kind == "ann") {
      val Array(_, from, n) = req.split(":")
      annAnswers += ((id, from.toLong, n.toInt, rows))
    } else firstResult.get(req) match {
      case None => firstResult(req) = (df.schema, rows)
      case Some((_, first)) =>
        if (canonical(first) != canonical(rows)) failure = s"$req: repeat answer differs from its first answer"
    }

    val phases = Map("interactive.build_s" -> (t1 - t0) / 1e9,
      "interactive.plan_s" -> (t2 - t1) / 1e9, "interactive.exec_s" -> (t3 - t2) / 1e9)
    val layers = tr match {
      case Some(t) =>
        val p0 = startMs + (t1 - t0) / 1000000L
        val p1 = p0 + (t2 - t1) / 1000000L
        t.add(Span(id, "op", kind, startMs, endMs))
        t.add(Span(id, "phase", "build", startMs, p0))
        t.add(Span(id, "phase", "plan", p0, p1))
        t.add(Span(id, "phase", "exec", p1, endMs))
        Engine.layers(engine.get, wall) ++ t.selfTimes(id)
      case None => Map.empty[String, Double]
    }
    OpResult(id, kind, wall, failure.isEmpty, 1L, failure,
      phases ++ layers + ("caching.persisted_after_op" -> persisted))
  }

  private def canonical(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def finalChecks(s: SparkSession): Seq[(Int, String)] = {
    implicit val spark: SparkSession = s
    val failures = mutable.ArrayBuffer.empty[(Int, String)]
    // analytics answers go to run.py for the DuckDB oracle; a query
    // without oracle SQL is missing from oracle_sql.json and fails there
    firstResult.foreach { case (q, (schema, rows)) =>
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$q")
    }
    Main.writeJson(s"$work/results/oracle_sql.json",
      firstResult.keys.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    // every ANN answer against brute force over the same corpus
    if (annAnswers.nonEmpty) {
      val corpus = Tables.embeddings(s, dir)
      val qs = annAnswers.map { case (_, from, n, _) => annQueries(s, from, n) }.reduce(_ union _)
      val truth = VectorOps.bruteForceTopK(qs, corpus, "vec_id", "embedding", TopK)
        .collect().groupBy(_.getAs[Long]("query_id"))
      annAnswers.foreach { case (id, from, n, rows) =>
        val got = rows.groupBy(_.getAs[Long]("query_id"))
        (0 until n).map(1000000000L + from + _).foreach { q =>
          val want = truth.getOrElse(q, Array.empty[Row])
          val have = got.getOrElse(q, Array.empty[Row])
          if (!sameTopK(want, have)) failures += id -> s"ann query $q differs from brute force"
        }
      }
    }
    failures.toSeq
  }

  /** Same cosines rank by rank; neighbors must match wherever the
    * cosine is not tied within the answer. */
  private def sameTopK(want: Array[Row], have: Array[Row]): Boolean = {
    def byRank(rs: Array[Row]) = rs.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("cosine"))).sortBy(_._1).toSeq
    val (w, h) = (byRank(want), byRank(have))
    w.size == h.size && w.map(_._3) == h.map(_._3) && {
      val tied = w.groupBy(_._3).filter(_._2.size > 1).keySet
      w.zip(h).forall { case (a, b) => tied.contains(a._3) || a._2 == b._2 }
    }
  }
}

/** Per-op engine values from the tracer's counters. */
object Engine {
  def layers(c: Counters, wallS: Double): Map[String, Double] = {
    val busy = c.taskBusyMs / 1000.0
    Map(
      "engine.jobs" -> c.jobs.toDouble,
      "engine.stages" -> c.stages.toDouble,
      "engine.tasks" -> c.tasks.toDouble,
      "engine.task_busy_s" -> busy,
      "engine.core_util" -> (if (wallS > 0) busy / (wallS * Main.Cores) else 0.0),
      "engine.gc_s" -> c.gcMs / 1000.0,
      "engine.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "engine.spill_bytes" -> c.spillBytes.toDouble,
      "scan.bytes_read" -> c.bytesRead.toDouble,
      "scan.rows_read" -> c.rowsRead.toDouble,
      "sink.bytes_written" -> c.bytesWritten.toDouble,
      "sink.write_amp" -> (if (c.bytesRead > 0) c.bytesWritten.toDouble / c.bytesRead else 0.0))
  }
}
