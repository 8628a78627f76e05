package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Task-level counters per Spark job group. Every layer call in a traced
  * rep runs under its own job group, so the counters of a group are the
  * work of exactly that layer call.
  */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs = 0
    var cpuNs = 0L
    var shuffleWriteB = 0L
    var fetchWaitMs = 0L
    var failedTasks = 0
    /** stage id → shuffle-read bytes of each of its tasks. */
    val readsByStage = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val accs = mutable.HashMap.empty[String, Acc]

  private def acc(group: String): Acc = accs.getOrElseUpdate(group, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null) {
      acc(group).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, group))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { group =>
      val a = acc(group)
      if (e.reason != Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.readsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  def get(group: String): Option[Acc] = synchronized(accs.get(group))

  /** max ÷ median shuffle-read bytes per task, on the stage of `group`
    * that read the most shuffle bytes (the reduce side of the layer's
    * heaviest exchange). 0 when the group read no shuffle data.
    */
  def readSkew(group: String): Double = synchronized {
    accs.get(group).flatMap { a =>
      a.readsByStage.values.filter(_.sum > 0).maxByOption(_.sum)
    }.map { reads =>
      val sorted = reads.sorted
      val n = sorted.length
      val median =
        if (n % 2 == 1) sorted(n / 2).toDouble
        else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
      sorted.last / math.max(median, 1.0)
    }.getOrElse(0.0)
  }
}

/** Spans of one traced rep, recorded around the benchmark's calls into
  * each layer. A layer span holds one child span, `<layer>.input`, which
  * replays the layer's materialized input; the layer's self time is its
  * span minus that child, i.e. the layer's own work plus storing its
  * output for the next layer.
  */
final class Tracer(spark: SparkSession, listener: LayerListener) {
  import Tracer.{Layer, Span}

  val spans = mutable.ArrayBuffer.empty[Span]
  val layers = mutable.LinkedHashMap.empty[String, Layer]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  private val open = mutable.Stack.empty[String]

  def span[A](name: String)(body: => A): A = {
    val parent = open.headOption
    open.push(name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, parent, t0, System.nanoTime())
      open.pop()
    }
  }

  /** Runs `body` with its Spark jobs tagged as job group `group`. */
  def grouped[A](group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private def record(name: String, rows: Long, parts: Map[String, (Double, Double)]): Unit = {
    val prev = layers.getOrElse(name, Layer(0L, Map.empty))
    layers(name) = Layer(prev.rows + rows, (prev.parts.keySet ++ parts.keySet).map { k =>
      val (a, b) = prev.parts.getOrElse(k, (0.0, 0.0))
      val (c, d) = parts.getOrElse(k, (0.0, 0.0))
      k -> (a + c, b + d)
    }.toMap)
  }

  /** One layer call over an already materialized input: replays the
    * input (child span), then runs `call` and materializes its output so
    * the next layer starts from stored rows. Returns the stored output
    * and its row count.
    */
  def layer(name: String, input: Option[DataFrame],
            parts: (DataFrame, Long) => Map[String, (Double, Double)] = (_, _) => Map.empty)
           (call: => DataFrame): (DataFrame, Long) = {
    val (out, rows) = span(name) {
      input.foreach(in => span(s"$name.input")(grouped(s"$name.input")(noop(in))))
      grouped(name) {
        val out = call.persist(StorageLevel.MEMORY_AND_DISK)
        cached += out
        (out, out.count())
      }
    }
    record(name, rows, grouped("trace.ratios")(parts(out, rows)))
    (out, rows)
  }

  /** A layer call whose result is not a frame to store (a commit, or a
    * call that collects its rows). `call` returns (rows, parts).
    */
  def terminal(name: String, input: Option[DataFrame])
              (call: => (Long, Map[String, (Double, Double)])): Unit = {
    val (rows, parts) = span(name) {
      input.foreach(in => span(s"$name.input")(grouped(s"$name.input")(noop(in))))
      grouped(name)(call)
    }
    record(name, rows, parts)
  }

  def release(): Unit = { cached.foreach(_.unpersist(blocking = true)); cached.clear() }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-layer metrics for every name in `allLayers`, then `ratioNames`
    * (a `<layer>.skew` name reads the listener); layers this rep did not
    * touch report 0.
    */
  def metrics(allLayers: Seq[String], ratioNames: Seq[String]): Seq[(String, Double, String)] = {
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext, 60000L)
    def wall(n: String): Double = spans.filter(_.name == n).map(_.secs).sum
    def childWall(n: String): Double = spans.filter(_.parent.contains(n)).map(_.secs).sum
    val perLayer = allLayers.flatMap { l =>
      val a = listener.get(l)
      val w = wall(l)
      Seq(
        (s"$l.wall_s", w, "s"),
        (s"$l.self_s", w - childWall(l), "s"),
        (s"$l.cpu_s", a.map(_.cpuNs / 1e9).getOrElse(0.0), "s"),
        (s"$l.rows_out", layers.get(l).map(_.rows.toDouble).getOrElse(0.0), "count"),
        (s"$l.shuffle_mb", a.map(_.shuffleWriteB / 1048576.0).getOrElse(0.0), "MB"),
        (s"$l.fetch_wait_s", a.map(_.fetchWaitMs / 1e3).getOrElse(0.0), "s"),
        (s"$l.jobs", a.map(_.jobs.toDouble).getOrElse(0.0), "count"),
        (s"$l.failed_tasks", a.map(_.failedTasks.toDouble).getOrElse(0.0), "count"))
    }
    val ratios = layers.values.flatMap(_.parts).toMap.map { case (k, (num, den)) =>
      k -> (if (den == 0.0) num else num / den)
    }
    perLayer ++ ratioNames.map { r =>
      val v = if (r.endsWith(".skew")) listener.readSkew(r.stripSuffix(".skew"))
        else ratios.getOrElse(r, 0.0)
      (r, v, Bench.unitOf(r))
    }
  }
}

object Tracer {
  final case class Span(name: String, parent: Option[String], startNs: Long,
                        endNs: Long) {
    def secs: Double = (endNs - startNs) / 1e9
  }

  /** A layer's output rows and ratio parts (numerator, denominator),
    * summed over the rep's calls into the layer; a denominator of 0
    * marks a plain sum.
    */
  final case class Layer(rows: Long, parts: Map[String, (Double, Double)])
}
