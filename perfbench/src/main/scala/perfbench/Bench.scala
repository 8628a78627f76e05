package perfbench

import java.util.Locale
import scala.util.control.NonFatal
import graft.Main
import graft.sources.SynthPages

/** Benchmark of the graft MVT engine through its public entry points.
  *
  *   perfbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --cpus <n>
  *   perfbench.Bench --train 1 --work <dir> --cpus <n>
  *
  * Set-up is the session start, the seeded inputs built `SetupReps`
  * times and the workload's warm-up reps; `setup_s` counts the median
  * input build.
  * Then one closed-loop client sends the workload's calls rep after rep
  * for `--seconds` (at least `MinReps` reps) and `rep_s` is the median
  * rep. With `--trace 1` it runs one untraced rep and one traced rep
  * instead and prints the per-layer metrics. Output checks run last; the
  * last stdout line is the JSON result, and the exit code is 1 when a
  * check or a call failed. `--train 1` only runs set-up and one rep of
  * every workload (see `train`).
  */
object Bench {
  val Layers = Seq("sources.scan", "functions.geoparse", "functions.cells",
    "operators.pip", "operators.assign", "operators.encode", "plans.commit",
    "plans.resume_filter", "operators.zonal", "operators.knn", "operators.dbscan")
  val Ratios = Seq("functions.geoparse.pages_hit_ratio", "operators.pip.match_ratio",
    "operators.encode.kept_ratio", "operators.encode.skew",
    "plans.resume_filter.pending_ratio", "plans.commit.data_mb")
  /** The workloads' named end-to-end figures, reported in the traced run
    * from its untraced rep (0 on workloads that do not produce them).
    */
  val Named = Seq("tiles_per_s" -> "1/s", "committed_mb" -> "MB", "resume_s" -> "s",
    "zonal_s" -> "s", "knn_s" -> "s", "dbscan_s" -> "s")
  val SetupReps = 2
  val MinReps = 5
  /** Measuring stops after this many seconds whatever `--seconds` says,
    * so a run ends within the caller's time limit.
    */
  val MaxMeasureSeconds = 90.0

  def unitOf(metric: String): String =
    if (metric.endsWith("_mb")) "MB" else if (metric.endsWith("_s")) "s" else "ratio"

  private def fmt(d: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(d))

  private def json(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
      ", ", "}}")

  /** Runs set-up and one rep of every workload in one JVM, so that the
    * JVM can record the classes they load into a class-data-sharing
    * archive.
    */
  private def train(work: String, cpus: String): Unit = {
    val spark = Main.session(cpus)
    for (name <- Workload.Names) {
      val w = Workload(name, spark, s"$work/$name", SynthPages.DefaultSeed, new Client)
      w.prepare()
      w.rep()
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.get("train").contains("1")) return train(opts("work"), opts("cpus"))
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cpus = opts("cpus")

    val t0 = System.nanoTime()
    val spark = Main.session(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val client = new Client
    val w = Workload(workload, spark, work, seed, client)

    def timed(body: => Any): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
    }
    val prepS = (1 to SetupReps).map(_ => timed(w.prepare()))
    val warmS = timed((1 to w.warmReps).foreach(_ => try w.rep() catch { case NonFatal(_) => Nil }))
    val setupS = sessionS + Workload.median(prepS) + warmS
    System.err.println(s"[perfbench] session ${fmt(sessionS)} s, inputs " +
      s"${prepS.map(fmt).mkString(" ")} s, warm-up ${fmt(warmS)} s")

    def safeRep(): Option[Seq[Call]] =
      try Some(w.rep()) catch { case NonFatal(_) => None }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val start = System.nanoTime()
        def elapsed = (System.nanoTime() - start) / 1e9
        val reps = scala.collection.mutable.ArrayBuffer.empty[Seq[Call]]
        var tries = 0
        while ((elapsed < seconds || tries < MinReps) && elapsed < MaxMeasureSeconds) {
          safeRep().foreach(reps += _)
          tries += 1
        }
        val repS = reps.map(_.map(_.secs).sum).toSeq
        System.err.println(s"[perfbench] reps ${repS.map(fmt).mkString(" ")} s; last rep " +
          reps.lastOption.toSeq.flatten.map(c => s"${c.name} ${fmt(c.secs)} s ${c.rows} rows")
            .mkString(", "))
        val named = w.named(reps.toSeq)
        println(s"$workload: " + (("rep_s", Workload.median(repS), "s") +: named)
          .map { case (n, v, u) => s"$n=${fmt(v)} $u" }.mkString(", ") +
          s", reps=${reps.size}")
        Seq(("rep_s", Workload.median(repS), "s"), ("setup_s", setupS, "s"))
      } else {
        val untraced = safeRep()
        val untracedS = untraced.map(_.map(_.secs).sum).getOrElse(Double.NaN)
        val listener = new LayerListener
        spark.sparkContext.addSparkListener(listener)
        val tracer = new Tracer(spark, listener)
        val tracedS = timed(tracer.span("trace.rep")(w.traced(tracer)))
        val named = untraced.map(r => w.named(Seq(r))).getOrElse(Nil)
          .map { case (n, v, _) => n -> v }.toMap
        tracer.metrics(Layers, Ratios) ++
          Named.map { case (n, u) => (s"e2e.$n", named.getOrElse(n, 0.0), u) } :+
          (("trace.overhead_s", tracedS - untracedS, "s"))
      }

    val checkStart = System.nanoTime()
    val failures =
      try w.check() catch { case NonFatal(e) => Seq(s"check raised $e") }
    System.err.println(s"[perfbench] checks ${fmt((System.nanoTime() - checkStart) / 1e9)} s")
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val correct = failures.isEmpty
    spark.stop()
    System.err.println(s"[perfbench] total ${fmt((System.nanoTime() - t0) / 1e9)} s")
    println(json(correct, client.attempted, client.failed, metrics))
    sys.exit(if (correct && client.failed == 0) 0 else 1)
  }
}
