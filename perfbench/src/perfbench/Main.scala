package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. It runs one workload and writes every raw
  * sample, span and counter to `--out` as JSON; `perfbench/run.py` turns
  * them into metrics. Arguments come as `--key value` pairs:
  *   --mode pipeline|table|survey  --work <scratch dir>  --out <json>
  *   --seed n --seconds s --trace 0|1 --panel <tsv> --sf x --data-seed n
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val work = Paths.get(arg("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = Clock.nowMs
    val trace = new Trace(spark)
    val loadStart = loadAvg()
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val sf = args.getOrElse("sf", "0.01").toDouble
    val dataSeed = args.getOrElse("data-seed", "42").toLong
    val result: Map[String, Any] = arg("mode") match {
      case "survey" =>
        Pipeline.survey(spark, trace, work, sf, dataSeed)
      case "pipeline" =>
        val panel = Files.readAllLines(Paths.get(arg("panel"))).asScala.toSeq
          .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1).toLong)
        Pipeline.run(spark, trace, work, panel, sf, dataSeed, seconds, traced)
      case "table" =>
        TableMixed.run(spark, trace, work, seed, seconds, traced)
    }
    val heapMb = retainedHeapMb()
    val host = Map(
      "nproc" -> cores, "cores_used" -> cores,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "seed" -> seed)
    val out = result ++ Map(
      "host" -> host,
      "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
      "session_ready" -> sessionReady,
      "retained_heap_mb" -> heapMb,
      "trace" -> (if (traced) trace.toJson else Map.empty))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(arg("out")), mapper.writeValueAsBytes(out))
    spark.stop()
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use after full collections, in MiB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
