package graft.table

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-writer LOGICAL conflict resolution (Delta VLDB 2020 §3.2): a lost
  * commit race rebases when the winner is provably disjoint from what this
  * transaction read/removed, and raises a TYPED conflict otherwise. The
  * deterministic tests drive `transact` directly with a deliberately
  * stale snapshot (the winner committed in between); the racing tests pin
  * the end-to-end behavior under real thread interleavings. */
class ConflictResolutionSpec extends SparkTestBase with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, s) => Row(i, s) }.asJava, schema)

  /** Table with two single-file commits: file A holds ids 0-4, file B
    * holds ids 100-104. Returns (table, pathOfA, pathOfB). */
  private def twoFiles(): (GraftTable, String, String) = {
    val t = GraftTable.create(spark, tmpDir("cr-"),
      df((0 to 4).map(i => (i, s"a$i")): _*).repartition(1))
    val before = t.snapshot.files.map(_.path).toSet
    t.append(df((100 to 104).map(i => (i, s"b$i")): _*).repartition(1))
    val a = before.head
    val b = (t.snapshot.files.map(_.path).toSet -- before).head
    (t, a, b)
  }

  /** Commit `op` through the transaction on the (possibly stale) snapshot
    * `s` with read set `read`, removing `removes` (paths of live files). */
  private def commitOn(t: GraftTable, s: Snapshot, op: String, read: TxnInfo,
      removes: String*): Long =
    t.transact(s.version, s, op, dataChange = true, Some(read))(
      (_, _) => Staged(Map.empty, s.files.filter(f => removes.contains(f.path)), Nil))

  test("lost race vs a stats-disjoint append rebases and lands") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    t.append(df((200, "w")))                    // winner: ids disjoint from pred
    commitOn(t, stale, "DELETE",
      TxnInfo(readWholeTable = false, Some(col("id") <= 4), Set(a)), a)
    assert(t.latestVersion === stale.version + 2, "rebase commits at the new head")
    assert(!t.snapshot.files.map(_.path).contains(a))
    assert(t.toDF.filter(col("id") === 200).count() === 1, "winner's append intact")
  }

  test("winner appended rows the predicate may match -> ConcurrentAppendException") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    t.append(df((2, "dup")))                    // overlaps pred range [0,4]
    intercept[ConcurrentAppendException] {
      commitOn(t, stale, "DELETE",
        TxnInfo(readWholeTable = false, Some(col("id") <= 4), Set(a)), a)
    }
  }

  test("winner removed a file this txn also removes -> ConcurrentDeleteDeleteException") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    t.delete(col("id") === 1)                   // winner rewrites file A
    intercept[ConcurrentDeleteDeleteException] {
      commitOn(t, stale, "DELETE",
        TxnInfo(readWholeTable = false, Some(col("id") === 3), Set(a)), a)
    }
  }

  test("winner removed a file this txn READ (but keeps) -> ConcurrentDeleteReadException") {
    val (t, a, b) = twoFiles()
    val stale = t.snapshot
    t.delete(col("id") === 1)                   // winner rewrites file A
    intercept[ConcurrentDeleteReadException] {
      // this txn read A and B but only removes B
      commitOn(t, stale, "DELETE", TxnInfo(readWholeTable = false, None, Set(a, b)), b)
    }
  }

  test("winner changed metadata / protocol -> typed errors") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    t.setProperty("some.prop", "x")             // metaData-changing commit
    intercept[MetadataChangedException] {
      commitOn(t, stale, "DELETE", TxnInfo(readWholeTable = false, None, Set(a)), a)
    }
    val stale2 = t.snapshot
    t.setProperty("deletionVectors.enabled", "true") // protocol upgrade commit
    intercept[ProtocolChangedException] {
      commitOn(t, stale2, "DELETE", TxnInfo.blind)
    }
  }

  test("whole-table readers conflict with ANY append") {
    val (t, _, _) = twoFiles()
    val stale = t.snapshot
    t.append(df((300, "w")))
    intercept[ConcurrentAppendException] {
      commitOn(t, stale, "MERGE", TxnInfo(readWholeTable = true, None, Set.empty))
    }
  }

  test("multi-winner rebase: several disjoint appends all classify clean") {
    val (t, a, _) = twoFiles()
    val stale = t.snapshot
    (0 until 3).foreach(i => t.append(df((400 + i, "w"))))
    commitOn(t, stale, "DELETE",
      TxnInfo(readWholeTable = false, Some(col("id") <= 4), Set(a)), a)
    assert(t.latestVersion === stale.version + 4)
    assert(t.toDF.filter(col("id") >= 400).count() === 3)
  }

  test("DDL is writer-feature gated: ADD COLUMNS refuses an unknown writer feature") {
    val (t, _, _) = twoFiles()
    val p = t.snapshot.protocol
    t.log.commit(t.latestVersion + 1, Seq(
      p.copy(minWriterVersion = 7, writerFeatures = p.writerFeatures :+ "fromTheFuture"),
      CommitInfo(t.latestVersion + 1, t.log.nextTimestamp(), "UPGRADE", Map.empty)))
    val head = t.latestVersion
    intercept[GraftProtocolException](t.addColumn("extra", StringType))
    assert(t.latestVersion === head, "a gated DDL must not commit")
  }

  test("DDL on a stale snapshot vs a winning append -> ConcurrentAppendException") {
    val (t, _, _) = twoFiles()
    val stale = t.snapshot
    t.append(df((-1, "neg")))                   // winner: a row the check rejects
    intercept[ConcurrentAppendException] {
      t.commitDdl(stale, "ADD CONSTRAINT", Map("name" -> "pos", "expr" -> "id >= 0"))(
        (_, _) => Seq(stale.metaData.copy(
          constraints = stale.metaData.constraints + ("pos" -> "id >= 0"))))
    }
    assert(t.latestVersion === stale.version + 1, "only the winner's commit landed")
    assert(t.history().filter(col("version") === stale.version + 1)
      .select("operation").head().getString(0) === "WRITE")
    assert(t.snapshot.metaData.constraints.isEmpty)
  }

  test("a writer that loses every race gives up typed after 10 attempts") {
    val dir = tmpDir("cr-lose-")
    val t0 = GraftTable.create(spark, dir, df((0 to 4).map(i => (i, s"d$i")): _*))
    val head = t0.latestVersion
    spark.conf.set(LogStore.ConfKey, classOf[LosingStore].getName)
    val t = try GraftTable.forPath(spark, dir) finally spark.conf.unset(LogStore.ConfKey)
    def bounded(what: String)(write: => Unit): Unit = {
      val e = failAfter(120.seconds)(intercept[GraftConcurrentWriteException](write))
      assert(e.getMessage.contains(dir) && e.getMessage.contains(s"version $head") &&
        e.getMessage.contains("10"), s"$what: message must name table, base, attempts")
      assert(t0.latestVersion === head, s"$what must not land")
    }
    bounded("append")(t.append(df((9, "x"))))
    bounded("delete")(t.delete(col("id") === 1))
    bounded("merge")(t.merge(df((1, "m")), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v")).execute())
    bounded("replace")(t.commitReplaceTable(Nil, t.snapshot.schema, Nil, Map.empty))
  }

  test("end-to-end race: appends vs predicate-disjoint DELETE — both land, no errors") {
    val t = GraftTable.create(spark, tmpDir("cr-race-"),
      df((0 to 4).map(i => (i, s"d$i")): _*).repartition(1))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      barrier.await()
      try (1 to 4).foreach(i => t.append(df((1000 + i, "app"))))
      catch { case e: Throwable => errs.add(e) }
    })
    val deleter = new Thread(() => {
      barrier.await()
      try t.delete(col("id") <= 4)
      catch { case e: Throwable => errs.add(e) }
    })
    appender.start(); deleter.start(); appender.join(); deleter.join()
    assert(errs.isEmpty,
      s"disjoint append/DELETE race must fully serialize via rebase: ${errs.asScala}")
    assert(t.toDF.collect().map(_.getInt(0)).toSet === (1 to 4).map(1000 + _).toSet,
      "all appends present, all seed rows deleted")
  }

  test("end-to-end race: two DELETEs on one file — one wins, loser typed, state clean") {
    val t = GraftTable.create(spark, tmpDir("cr-dd-"),
      df((0 to 9).map(i => (i, s"d$i")): _*).repartition(1))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def deleter(id: Int) = new Thread(() => {
      barrier.await()
      try t.delete(col("id") === id)
      catch { case e: Throwable => errs.add(e) }
    })
    val x = deleter(1); val y = deleter(8)
    x.start(); y.start(); x.join(); y.join()
    // serialized interleavings legally delete both; a real race must
    // surface as a TYPED conflict on exactly one side
    assert(errs.size <= 1, "at least one DELETE must win")
    errs.asScala.foreach(e => assert(e.isInstanceOf[GraftConcurrentWriteException],
      s"loser must get a typed logical conflict, got: $e"))
    val ids = t.toDF.collect().map(_.getInt(0)).toSet
    val legal = Set((0 to 9).toSet -- Set(1, 8), (0 to 9).toSet - 1, (0 to 9).toSet - 8)
    assert(legal.contains(ids), s"state $ids is not a clean outcome")
  }

  test("2-JVM race: external DELETEs rebase past in-process appends, nothing lost") {
    import spark.implicits._
    val dir = tmpDir("cr-2jvm-")
    val perSide = 5
    val t0 = GraftTable.create(spark, dir, Seq(("seed", 0)).toDF("writer", "seq"))
    // victim rows in separate files, so deletes touch disjoint file sets
    (1 to perSide).foreach(i => t0.append(Seq(("victim", i)).toDF("writer", "seq")))

    val proc = new ProcessBuilder(
      "/root/repo/tools/run.sh", "graft.RaceWriter", dir, "deleter", perSide.toString)
      .redirectErrorStream(true).start()

    val t = GraftTable.forPath(spark, dir)
    (1 to perSide).foreach(i => t.append(Seq(("internal", i)).toDF("writer", "seq")))
    val out = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"external deleter failed:\n$out")
    assert(out.contains(s"DELETED $perSide"),
      s"every predicate-disjoint DELETE must land across JVMs:\n$out")

    val rows = t.toDF.as[(String, Int)].collect().toSet
    val expected = Set("seed" -> 0) ++ (1 to perSide).map("internal" -> _)
    assert(rows === expected, "victim rows gone, all appends intact")
  }

  test("N-writer contention: every blind append lands exactly once") {
    import spark.implicits._
    val dir = tmpDir("contend-")
    GraftTable.create(spark, dir, Seq((0L, -1)).toDF("k", "w"))
    val writers = 6; val each = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val fs = (0 until writers).map { w =>
      pool.submit(new Runnable { override def run(): Unit = {
        val t = GraftTable.forPath(spark, dir) // own instance = own "driver"
        start.await()
        (1 to each).foreach(i =>
          t.append(Seq((w * 1000L + i, w)).toDF("k", "w")))
      }})
    }
    start.countDown()
    fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val t = GraftTable.forPath(spark, dir)
    assert(t.latestVersion == writers * each,
      "every append must land as its own commit (rebase, not loss)")
    assert(t.toDF.count() == writers * each + 1)
    assert(t.toDF.select("k").distinct().count() == writers * each + 1,
      "no append may double-commit under contention")
  }

  test("N-writer identity contention: the frontier serializes, ids stay unique") {
    import spark.implicits._
    val dir = tmpDir("contend-id-")
    GraftTable.create(spark, dir,
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("w",
            org.apache.spark.sql.types.IntegerType)))),
      identity = Map("rid" -> (1L, 1L)))
    val writers = 6; val each = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val retries = new java.util.concurrent.atomic.AtomicInteger
    val fs = (0 until writers).map { w =>
      pool.submit(new Runnable { override def run(): Unit = {
        val t = GraftTable.forPath(spark, dir)
        start.await()
        (1 to each).foreach { _ =>
          var landed = false
          while (!landed)
            try { t.append(Seq(w).toDF("w")); landed = true }
            catch { case _: GraftConcurrentWriteException =>
              retries.incrementAndGet() } // typed loser: re-read frontier, retry
        }
      }})
    }
    start.countDown()
    fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val t = GraftTable.forPath(spark, dir)
    val n = writers * each
    assert(t.toDF.count() == n)
    assert(t.toDF.select("rid").distinct().count() == n,
      s"identity ids collided under contention (${retries.get()} retries)")
  }
}

/** A store on which every publish loses the race: some other writer always
  * holds the version first. */
class LosingStore extends DelegatingStore {
  override def publishIfAbsent(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    throw new java.nio.file.FileAlreadyExistsException(dst.toString)
}
