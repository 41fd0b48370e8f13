package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The pipeline workload: a fixed panel of registry queries, each query
  * timed from its builder call to the end of its `noop`-sink action, with
  * its row count taken by `Dataset.observe` in that same job. */
object Pipeline {

  type Builder = (SparkSession, String) => DataFrame

  /** Data generations per run; setup counts their median. */
  val SetupRepeats = 3
  /** Untimed passes before timing; the first builds each query's
    * per-directory fixtures. */
  val WarmPasses = 1
  /** Timed passes at least; each query is scored by its fastest pass. */
  val MinPasses = 3

  final case class Run(name: String, startMs: Double, builtMs: Double, endMs: Double,
                       rows: Long, error: Option[String])

  /** Builds and materializes one query. The observed row count is read after
    * the timed window: the observation is delivered asynchronously. */
  def runQuery(spark: SparkSession, trace: Trace, name: String, build: Builder, dir: String): Run = {
    val start = Clock.nowMs
    var built = Double.NaN
    try {
      val df = trace.span(s"$name:build", "queries")(build(spark, dir))
      built = Clock.nowMs
      val obs = Observation(s"rows_$name")
      trace.span(s"$name:action", "exec") {
        df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      }
      val end = Clock.nowMs
      Run(name, start, built, end, obs.get("rows").asInstanceOf[Long], None)
    } catch {
      case NonFatal(e) =>
        Run(name, start, built, Clock.nowMs, -1L, Some(s"${e.getClass.getName}: ${e.getMessage}".take(300)))
    }
  }

  def runJson(r: Run, expected: Option[Long]): Map[String, Any] = Map(
    "name" -> r.name, "start" -> r.startMs, "built" -> r.builtMs, "end" -> r.endMs,
    "rows" -> r.rows, "expected" -> expected.getOrElse(-1L),
    "ok" -> (r.error.isEmpty && expected.forall(_ == r.rows)),
    "error" -> r.error.getOrElse(""))

  /** Setup (data generation, repeated; untimed warm passes), then whole
    * timed passes until `seconds` have passed. With `traced`, passes alternate
    * untraced and traced and both start and end untraced, so every traced
    * pass sits between two untraced ones. */
  def run(spark: SparkSession, trace: Trace, work: Path, panel: Seq[(String, Long)],
          sf: Double, dataSeed: Long, seconds: Double, traced: Boolean): Map[String, Any] = {
    val registry = graft.SparkEntry.queries
    val builds = ArrayBuffer.empty[Double]
    var dataDir: Path = null
    for (i <- 0 until SetupRepeats) {
      val t0 = Clock.nowMs
      dataDir = work.resolve(s"data$i")
      DataGen.write(spark, dataDir, sf, dataSeed)
      builds += Clock.nowMs - t0
    }
    val dir = dataDir.toString
    // the panel runs in its frozen order: on a JVM warmed by the same
    // passes, query order shifts pass time by more than a real regression
    def pass(): Seq[Run] = panel.map { case (name, _) =>
      registry.get(name) match {
        case Some(b) => runQuery(spark, trace, name, b, dir)
        case None =>
          val t = Clock.nowMs
          Run(name, t, t, t, -1L, Some("not in SparkEntry.queries"))
      }
    }
    val warmStart = Clock.nowMs
    (1 to WarmPasses).foreach(_ => pass())
    val firstTimed = Clock.nowMs
    val expected = panel.toMap
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val deadline = firstTimed + seconds * 1000
    var i = 0
    while (Clock.nowMs < deadline || i < (if (traced) 3 else MinPasses) || (traced && i % 2 == 0)) {
      val tracedPass = traced && i % 2 == 1
      if (tracedPass) trace.start()
      val start = Clock.nowMs
      val runs = pass()
      val end = Clock.nowMs
      if (tracedPass) trace.stop()
      passes += Map("traced" -> tracedPass, "start" -> start, "end" -> end,
        "queries" -> runs.map(r => runJson(r, expected.get(r.name))))
      i += 1
    }
    Map("fixture_build_ms" -> builds.toSeq, "warm_pass_ms" -> (firstTimed - warmStart),
      "first_timed" -> firstTimed, "passes" -> passes.toSeq,
      "registry" -> registry.keys.toSeq.sorted)
  }

  /** The registry query modules, for the frozen membership file. */
  def modules: Seq[(String, Seq[String])] = {
    import graft.queries._
    Seq("Relational" -> Relational.all, "Events" -> Events.all, "Text" -> Text.all,
      "Dedup" -> Dedup.all, "Similarity" -> Similarity.all, "Sampling" -> Sampling.all,
      "Multimodal" -> Multimodal.all, "TableQueries" -> TableQueries.all,
      "Streaming" -> Streaming.all, "Retrieval" -> Retrieval.all,
      "GraphQueries" -> GraphQueries.all, "Privacy" -> Privacy.all,
      "Interchange" -> Interchange.all, "DataQuality" -> DataQuality.all,
      "CatalogQueries" -> CatalogQueries.all).map { case (m, qs) => m -> qs.map(_._1) }
  }

  /** Classifies every registry query: runs it twice (cold, then warm) with
    * tracing on and counts the jobs its builder launches before returning. */
  def survey(spark: SparkSession, trace: Trace, work: Path, sf: Double, dataSeed: Long): Map[String, Any] = {
    val dir = work.resolve("data")
    DataGen.write(spark, dir, sf, dataSeed)
    val moduleOf = modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
    trace.start()
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, b) =>
      val attempts = (1 to 2).map { _ =>
        val r = runQuery(spark, trace, name, b, dir.toString)
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val buildSpans = trace.spans.values.asScala.filter(_.name == s"$name:build").map(_.id).toSet
        val eager = trace.jobs.values.asScala.count(j => buildSpans(j.span))
        trace.spans.clear(); trace.jobs.clear()
        (r, eager)
      }
      System.err.println(s"survey $name ${attempts.map(a => f"${a._1.endMs - a._1.startMs}%.0fms/${a._2}j").mkString(" ")}")
      Map("name" -> name, "module" -> moduleOf.getOrElse(name, "?"),
        "cold_eager_jobs" -> attempts(0)._2, "warm_eager_jobs" -> attempts(1)._2,
        "cold_ms" -> (attempts(0)._1.endMs - attempts(0)._1.startMs),
        "warm_ms" -> (attempts(1)._1.endMs - attempts(1)._1.startMs),
        "warm_build_ms" -> (attempts(1)._1.builtMs - attempts(1)._1.startMs),
        "rows" -> attempts(1)._1.rows, "cold_rows" -> attempts(0)._1.rows,
        "error" -> attempts.flatMap(_._1.error).headOption.getOrElse(""))
    }
    trace.stop()
    Map("survey" -> rows)
  }
}
