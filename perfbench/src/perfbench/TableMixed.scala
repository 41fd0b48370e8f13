package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.table.{GraftConcurrentWriteException, GraftTable}

/** The `table_mixed` workload: the reference's five REST operations (MERGE
  * upsert, predicate DELETE, snapshot read, time-travel read, history) as a
  * closed loop of two clients against one `names` table. Each client writes
  * only ids of its own residue class (id % 2), so the final table is
  * checkable against the clients' models however their commits interleave;
  * both still rewrite the same files, so commits do conflict and retry. */
object TableMixed {

  val Clients = 2
  val MaxAttempts = 20
  /** Seed table: rows and data files. */
  val SeedRows = 20000
  val SeedFiles = 8
  /** Hard stop for one phase, whatever the decks. */
  val CapSeconds = 60.0
  val schema = StructType(Seq(StructField("id", IntegerType, nullable = false),
    StructField("firstname", StringType, nullable = false),
    StructField("lastname", StringType, nullable = false)))
  private val firstNames = Seq("James", "Alice", "Joe", "Maria", "Wei", "Amara", "Olga", "Ravi",
    "Lena", "Tom", "Yuki", "Ines")
  private val lastNames = Seq("Bond", "Rogers", "Bloggs", "Smith", "Chen", "Okafor", "Ivanova",
    "Patel", "Novak", "Brown", "Sato", "Garcia")

  /** One client's deck of operations, dealt in a seeded order: one of each
    * operation, unweighted, as no traffic data says how they mix. A phase
    * ends on deck boundaries, so every phase has the same mix; the deck is
    * short so that the tail where only one client still runs stays short. */
  val Deck = Seq("merge", "delete", "read_latest", "read_version", "read_timestamp", "history")
  /** Untimed warm-up length. */
  val WarmSeconds = 5.0

  type Person = (String, String)

  def seedRows(seed: Long, n: Int): Seq[(Int, Person)] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(id => id -> (firstNames(r.nextInt(firstNames.size)), lastNames(r.nextInt(lastNames.size))))
  }

  private def frame(spark: SparkSession, rows: Iterable[(Int, Person)], parts: Int): DataFrame =
    spark.createDataFrame(rows.map { case (id, (f, l)) => Row(id, f, l) }.toSeq.asJava, schema)
      .repartition(parts)

  private object Plans extends AdaptiveSparkPlanHelper
  private def filesRead(df: DataFrame): Long =
    Plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  final case class Op(client: Int, kind: String, start: Double, end: Double, ok: Boolean,
                      retries: Int, checkpoint: Option[Boolean], filesRead: Long, error: String)

  /** One client's closed loop. `model` holds the client's own ids. */
  private final class Client(spark: SparkSession, trace: Trace, path: String, c: Int,
                             rnd: scala.util.Random, model: mutable.TreeMap[Int, Person],
                             firstId: Int, createdMs: Long) {
    val table = GraftTable.forPath(spark, path)
    private var nextId = firstId + c
    private var opNo = 0
    private var hand = List.empty[String]
    def atDeckEnd: Boolean = hand.isEmpty
    private def nextKind(): String = {
      if (hand.isEmpty) hand = rnd.shuffle(Deck).toList
      val k = hand.head
      hand = hand.tail
      k
    }
    private def person(): Person =
      (firstNames(rnd.nextInt(firstNames.size)), lastNames(rnd.nextInt(lastNames.size)) + s"-$c-$opNo")

    /** Own live ids skewed toward the most recent ones. */
    private def recentIds(k: Int): Seq[Int] = {
      val ids = model.keysIterator.toIndexedSeq
      val out = mutable.LinkedHashSet.empty[Int]
      var tries = 0
      while (out.size < math.min(k, ids.size) && tries < 20 * k) {
        val back = (-math.log(1 - rnd.nextDouble()) * ids.size / 8).toInt
        out += ids(math.max(0, ids.size - 1 - back))
        tries += 1
      }
      out.toSeq
    }

    private val jitter = new scala.util.Random(rnd.nextLong())

    /** Runs a write, retrying lost commit races after a randomized,
      * doubling backoff (without it the two clients can keep beating each
      * other's retries). `base` is the latest version before the first
      * attempt; returns the retries and the latest version before the
      * attempt that landed. */
    private def write(kind: String, base: Long)(call: => Unit): (Int, Long) = {
      var retries = 0
      var last = base
      var done = false
      while (!done) {
        try { trace.span(s"table.$kind", "table")(call); done = true }
        catch {
          case _: GraftConcurrentWriteException if retries + 1 < MaxAttempts =>
            Thread.sleep(1 + jitter.nextInt(20 << math.min(retries, 5)))
            retries += 1
            last = table.latestVersion
        }
      }
      (retries, last)
    }

    private def page(): (Int, Int) = {
      val a = rnd.nextInt(math.max(1, nextId))
      (a, a + 999)
    }

    private def readPage(kind: String, df: => DataFrame, lo: Int, hi: Int): (Array[Row], Long) =
      trace.span(s"table.$kind", "table") {
        val d = df.filter(col("id").between(lo, hi))
        val rows = d.collect()
        (rows, if (trace.enabled) filesRead(d) else 0L)
      }

    def next(): Op = {
      opNo += 1
      val kind = nextKind()
      val writes = kind == "merge" || kind == "delete"
      // the versions around a write's last attempt tell which version its
      // commit landed at; the first is read outside the timed window
      val before = if (writes) table.latestVersion else 0L
      val start = Clock.nowMs
      var retries = 0; var base = before; var files = 0L
      val error: Option[String] = try kind match {
        case "merge" =>
          val updates = recentIds(50).map(_ -> person())
          val inserts = (0 until 50).map { _ => val id = nextId; nextId += Clients; id -> person() }
          val src = frame(spark, updates ++ inserts, 1)
          val (r, b) = write(kind, before)(table.merge(src, "t.id = s.id")
            .whenMatchedUpdate(Map("firstname" -> "s.firstname", "lastname" -> "s.lastname"))
            .whenNotMatchedInsert(Map("id" -> "s.id", "firstname" -> "s.firstname", "lastname" -> "s.lastname"))
            .execute())
          retries = r; base = b
          model ++= updates ++ inserts
          None
        case "delete" =>
          val ids = model.keysIterator.toIndexedSeq
          val victims = Seq.fill(20)(ids(rnd.nextInt(ids.size))).distinct
          val (r, b) = write(kind, before)(table.delete(s"id IN (${victims.mkString(",")})"))
          retries = r; base = b
          model --= victims
          None
        case "read_latest" =>
          val (lo, hi) = page()
          val (rows, f) = readPage(kind, table.toDF, lo, hi)
          files = f
          val own = rows.filter(_.getInt(0) % Clients == c)
            .map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
          val want = model.range(lo, hi + 1).toMap
          if (own == want) None else Some(s"latest page [$lo,$hi] disagrees with client $c's model")
        case "read_version" =>
          val (lo, hi) = page()
          val v = (rnd.nextDouble() * (table.latestVersion + 1)).toLong
          files = readPage(kind, table.versionAsOf(v), lo, hi)._2
          None
        case "read_timestamp" =>
          val (lo, hi) = page()
          val at = createdMs + (rnd.nextDouble() * (System.currentTimeMillis() - createdMs)).toLong
          files = readPage(kind, table.timestampAsOf(new Timestamp(at)), lo, hi)._2
          None
        case "history" =>
          trace.span("table.history", "table")(table.history().collect())
          None
      } catch {
        case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
      val end = Clock.nowMs
      // the commit landed at base + 1 if it is the only version after base;
      // if the other client also committed meanwhile, which one is the
      // write's own is unknown. Commits at multiples of 10 write a checkpoint.
      val checkpoint =
        if (writes && error.isEmpty && table.latestVersion == base + 1) Some((base + 1) % 10 == 0)
        else None
      Op(c, kind, start, end, error.isEmpty, retries, checkpoint, files, error.getOrElse(""))
    }
  }

  /** Runs both clients against `path`; each stops at the first end of a
    * deck after `seconds` (so every phase holds whole decks, the same mix),
    * or at `CapSeconds`. Returns the ops and the clients' final models. */
  private def phase(spark: SparkSession, trace: Trace, path: String, seed: Long,
                    seedModel: Seq[(Int, Person)], createdMs: Long,
                    seconds: Double): (Seq[Op], Seq[(Int, Person)]) = {
    val t0 = Clock.nowMs
    val models = (0 until Clients).map(c =>
      mutable.TreeMap(seedModel.filter(_._1 % Clients == c): _*))
    val results = (0 until Clients).map(_ => mutable.ArrayBuffer.empty[Op])
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val client = new Client(spark, trace, path, c, new scala.util.Random(seed * 7919 + c),
          models(c), SeedRows, createdMs)
        do results(c) += client.next()
        while (!(client.atDeckEnd && Clock.nowMs >= t0 + seconds * 1000) &&
               Clock.nowMs < t0 + CapSeconds * 1000)
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (results.flatten.sortBy(_.start), models.flatMap(_.toSeq))
  }

  private def opJson(o: Op): Map[String, Any] = Map("client" -> o.client, "kind" -> o.kind,
    "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "retries" -> o.retries,
    "checkpoint" -> o.checkpoint.getOrElse(null), "files_read" -> o.filesRead, "error" -> o.error)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** End-of-run checks and storage figures of the measured table. */
  private def inspect(spark: SparkSession, path: String, seed: Seq[(Int, Person)],
                      model: Seq[(Int, Person)], userRows: Long): Map[String, Any] = {
    val t = GraftTable.forPath(spark, path)
    def asMap(df: DataFrame) = df.collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    val latest = t.latestVersion
    val versions = t.history().select("version").collect().map(_.getLong(0)).sorted.toSeq
    val snap = t.snapshot
    val logDir = java.nio.file.Paths.get(path, "_delta_log")
    val v0Bytes = t.log.snapshotAt(0).files.map(_.size).sum.toDouble
    val allBytes = dirBytes(java.nio.file.Paths.get(path))
    val logBytes = dirBytes(logDir)
    val checks = Map(
      "latest_equals_models" -> (asMap(t.toDF) == model.toMap),
      "version0_equals_seed" -> (asMap(t.versionAsOf(0)) == seed.toMap),
      "history_lists_every_version_once" -> (versions == (0L to latest)))
    Map("checks" -> checks,
      "versions" -> (latest + 1), "live_files" -> snap.files.size,
      "live_bytes" -> snap.files.map(_.size).sum, "stored_bytes" -> allBytes,
      "log_bytes" -> logBytes,
      "checkpoints" -> Files.list(logDir).iterator.asScala.count(_.getFileName.toString.contains(".checkpoint")),
      "data_bytes_written" -> (allBytes - logBytes - v0Bytes),
      "user_bytes" -> userRows * v0Bytes / seed.size)
  }

  /** Setup creates one table per phase plus one to warm up on (three or
    * four creations; setup counts their median), then runs the phases. */
  def run(spark: SparkSession, trace: Trace, work: Path, seed: Long, seconds: Double,
          traced: Boolean): Map[String, Any] = {
    val repeats = if (traced) 4 else 3
    val seedModel = seedRows(seed, SeedRows)
    val created = (0 until repeats).map { i =>
      val path = work.resolve(s"names$i").toString
      val t0 = Clock.nowMs
      GraftTable.create(spark, path, frame(spark, seedModel, SeedFiles))
      (path, Clock.nowMs - t0, System.currentTimeMillis())
    }
    // untimed warm-up on the first table, so the timed phase meets a warm JVM
    val warmStart = Clock.nowMs
    phase(spark, trace, created(0)._1, seed + 1, seedModel, created(0)._3, WarmSeconds)
    val firstTimed = Clock.nowMs

    def measured(i: Int, tracedPhase: Boolean): Map[String, Any] = {
      val (path, _, createdMs) = created(i)
      if (tracedPhase) trace.start()
      val start = Clock.nowMs
      val (ops, model) = phase(spark, trace, path, seed, seedModel, createdMs, seconds)
      val end = Clock.nowMs
      if (tracedPhase) trace.stop()
      val userRows = ops.count(o => o.ok && o.kind == "merge") * 100L
      Map("traced" -> tracedPhase, "start" -> start, "end" -> end, "ops" -> ops.map(opJson)) ++
        inspect(spark, path, seedModel, model, userRows)
    }
    // traced: untraced, traced, untraced phases, each on a fresh table
    val phases =
      if (traced) Seq(false, true, false).zipWithIndex.map { case (t, k) => measured(repeats - 3 + k, t) }
      else Seq(measured(repeats - 1, tracedPhase = false))
    Map("fixture_build_ms" -> created.map(_._2), "warm_pass_ms" -> (firstTimed - warmStart),
      "first_timed" -> firstTimed, "phases" -> phases)
  }
}
