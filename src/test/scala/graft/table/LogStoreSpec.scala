package graft.table

import java.nio.file.{Files, Path}

import graft.SparkTestBase

/** Delegates everything to the POSIX store; subclasses break one clause. */
class DelegatingStore extends LogStore {
  override def readLines(p: Path): Seq[String] = PosixLogStore.readLines(p)
  override def readString(p: Path): String = PosixLogStore.readString(p)
  override def writeTmp(p: Path, bytes: Array[Byte]): Unit = PosixLogStore.writeTmp(p, bytes)
  override def publishIfAbsent(src: Path, dst: Path): Unit = PosixLogStore.publishIfAbsent(src, dst)
  override def publishOverwrite(src: Path, dst: Path): Unit = PosixLogStore.publishOverwrite(src, dst)
  override def exists(p: Path): Boolean = PosixLogStore.exists(p)
  override def isRegularFile(p: Path): Boolean = PosixLogStore.isRegularFile(p)
  override def isDirectory(p: Path): Boolean = PosixLogStore.isDirectory(p)
  override def list(dir: Path, glob: String): Seq[Path] = PosixLogStore.list(dir, glob)
  override def deleteIfExists(p: Path): Boolean = PosixLogStore.deleteIfExists(p)
  override def mtimeMs(p: Path): Long = PosixLogStore.mtimeMs(p)
  override def createDirectories(p: Path): Unit = PosixLogStore.createDirectories(p)
}

/** The LogStore seam: the commit protocol's storage contract is
  * (1) publishIfAbsent = atomic putIfAbsent, (2) read-after-publish
  * visibility. These tests swap in stores that VIOLATE each clause and
  * prove the protocol detects the violation loudly (typed concurrency
  * error) instead of folding a corrupt log — the property an object-store
  * deployment without a proper putIfAbsent shim would otherwise lose
  * silently. */
class LogStoreSpec extends SparkTestBase {

  private def seedActions(log: GraftLog): Seq[Action] = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    Seq(
      MetaData(java.util.UUID.randomUUID().toString, schema.json,
        System.currentTimeMillis(), Nil, Map.empty, Map.empty),
      CommitInfo(0L, log.nextTimestamp(), "CREATE", Map.empty))
  }

  test("non-atomic publish (racing loser overwrites winner) is detected") {
    // A store whose "publish" is copy-with-replace — the S3 plain-PUT
    // failure mode: both racers' PUTs succeed, last writer wins. Simulate
    // the interleaving deterministically: the loser's body lands on top of
    // this writer's publish before its read-back.
    val store = new DelegatingStore {
      override def publishIfAbsent(src: Path, dst: Path): Unit = {
        Files.copy(src, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING) // no CAS!
        // the racing loser's commit lands right after ours
        Files.write(dst, "{\"commitInfo\":{\"version\":0,\"timestamp\":1,\"operation\":\"EVIL\",\"operationMetrics\":{}}}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    val log = new GraftLog(tmpDir("logstore-nonatomic-"), store)
    val e = intercept[java.util.ConcurrentModificationException] {
      log.commit(0L, seedActions(log))
    }
    assert(e.getMessage.contains("not atomic"),
      s"expected the non-atomic-publish diagnostic, got: ${e.getMessage}")
  }

  test("lost publish visibility is detected") {
    // a store that acknowledges the publish but never makes it readable —
    // delayed/lost visibility, the other half of the contract
    val store = new DelegatingStore {
      override def publishIfAbsent(src: Path, dst: Path): Unit = () // dropped
    }
    val log = new GraftLog(tmpDir("logstore-lost-"), store)
    val e = intercept[java.util.ConcurrentModificationException] {
      log.commit(0L, seedActions(log))
    }
    assert(e.getMessage.contains("visibility"),
      s"expected the lost-visibility diagnostic, got: ${e.getMessage}")
  }

  test("a NON-posix store (plain writes + external mutex) carries checkpoints and cleanup") {
    // The S3DynamoDBLogStore arrangement, in miniature: the store has NO
    // atomic filesystem primitive — publishes are plain copy-then-delete
    // writes — and mutual exclusion comes from EXTERNAL coordination (here
    // an in-process lock table keyed by destination, standing in for the
    // DynamoDB mutex row / conditional PUT). If GraftLog leaned on any
    // posix atomicity beyond the LogStore contract, this store would
    // corrupt checkpointed folds or cleanup — the cycle below crosses two
    // checkpoint intervals, a multipart checkpoint, and a log cleanup.
    val published = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val store = new DelegatingStore {
      override def publishIfAbsent(src: Path, dst: Path): Unit = {
        // external mutex: first claimant of this dst wins, everyone else
        // gets the contract's FileAlreadyExists — no filesystem CAS at all
        if (!published.add(dst.toString) || Files.exists(dst))
          throw new java.nio.file.FileAlreadyExistsException(dst.toString)
        Files.copy(src, dst) // plain write; atomicity comes from the mutex
      }
      override def publishOverwrite(src: Path, dst: Path): Unit = {
        Files.copy(src, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.deleteIfExists(src)
      }
      override def deleteIfExists(p: Path): Boolean = {
        published.remove(p.toString); super.deleteIfExists(p)
      }
    }
    val dir = tmpDir("logstore-s3ish-")
    val log = new GraftLog(dir, store)
    log.commit(0L, seedActions(log))
    // cross two checkpoint intervals (writeCheckpoint publishes through
    // the store), then force a MULTIPART checkpoint via partSize
    (1 to 9).foreach(v => log.commit(v, Seq(
      CommitInfo(v, log.nextTimestamp(), "WRITE", Map.empty),
      AddFile(s"part-$v.parquet", 10L, v, 1L, Map.empty, Map.empty))))
    log.commit(10L, Seq(CommitInfo(10L, log.nextTimestamp(), "WRITE", Map.empty)))
    val meta10 = log.snapshotAt(10L).metaData
    log.commit(11L, Seq(
      meta10.copy(properties = meta10.properties +
        ("checkpoint.partSize" -> "3", "checkpoint.format" -> "parquet")),
      CommitInfo(11L, log.nextTimestamp(), "SET TBLPROPERTIES", Map.empty)))
    (12 to 20).foreach(v => log.commit(v, Seq(
      CommitInfo(v, log.nextTimestamp(), "WRITE", Map.empty))))
    // fresh instance folds from the multipart checkpoint through the store
    val replay = new GraftLog(dir, store)
    assert(replay.snapshotAt(20L).files.size == 9)
    assert(replay.snapshotAt(5L).files.size == 5, "time travel intact")
    // cleanup publishes _log_start via publishOverwrite and deletes
    // through the store; the table stays fully readable after
    assert(log.cleanupExpiredLogs(System.currentTimeMillis() + 1000) > 0)
    val after = new GraftLog(dir, store)
    assert(after.earliestVersion > 0)
    assert(after.snapshotAt(after.latestVersion).files.size == 9)
    // and the external mutex still rejects a duplicate version
    intercept[java.util.ConcurrentModificationException] {
      new GraftLog(dir, store).commit(after.latestVersion,
        Seq(CommitInfo(after.latestVersion, 999L, "WRITE", Map.empty)))
    }
  }

  test("a conforming custom store carries the full commit/fold cycle") {
    val publishes = new java.util.concurrent.atomic.AtomicInteger
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val store = new DelegatingStore {
      override def publishIfAbsent(src: Path, dst: Path): Unit = {
        publishes.incrementAndGet(); super.publishIfAbsent(src, dst)
      }
      override def readLines(p: Path): Seq[String] = {
        reads.incrementAndGet(); super.readLines(p)
      }
    }
    val dir = tmpDir("logstore-ok-")
    val log = new GraftLog(dir, store)
    log.commit(0L, seedActions(log))
    log.commit(1L, Seq(
      CommitInfo(1L, log.nextTimestamp(), "WRITE", Map.empty),
      AddFile("part-0.parquet", 10L, 1L, 1L, Map.empty, Map.empty)))
    // a FRESH instance (cold caches) folds through the same seam
    val replay = new GraftLog(dir, store)
    val s = replay.snapshotAt(1L)
    assert(s.files.map(_.path) == Seq("part-0.parquet"))
    assert(publishes.get() == 2, "both commits must publish through the seam")
    assert(reads.get() >= 2, "the fold must read commits through the seam")
    // racing a second writer through the DEFAULT store on the same dir:
    // the posix CAS rejects the duplicate version with the typed error
    intercept[java.util.ConcurrentModificationException] {
      new GraftLog(dir).commit(1L, Seq(
        CommitInfo(1L, 999L, "WRITE", Map.empty)))
    }
  }

  test("conf-pluggable store: spark.graft.logStore.class loads through forPath AND the catalog") {
    ConfSelectedStore.publishes.set(0)
    spark.conf.set(graft.table.LogStore.ConfKey,
      "graft.table.ConfSelectedStore")
    try {
      import spark.implicits._
      // native API: create + load resolve the conf-selected store
      val dir = tmpDir("logstore-conf-") + "/t"
      val t = GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "v"))
      assert(ConfSelectedStore.publishes.get() > 0,
        "create() must commit through the conf-selected store")
      val before = ConfSelectedStore.publishes.get()
      GraftTable.forPath(spark, dir).append(Seq((2L, "b")).toDF("id", "v"))
      assert(ConfSelectedStore.publishes.get() > before,
        "forPath() must commit through the conf-selected store")
      assert(t.versionAsOf(0).count() === 1 && t.toDF.count() === 2)
      // catalog front door: CREATE/INSERT via SQL also ride the store
      graft.sources.GraftCatalog.register(spark, tmpDir("logstore-conf-wh-"),
        name = "lscat")
      val mid = ConfSelectedStore.publishes.get()
      spark.sql("CREATE TABLE lscat.default.conf_t (id BIGINT, v STRING) USING graft")
      spark.sql("INSERT INTO lscat.default.conf_t VALUES (1, 'x')")
      assert(ConfSelectedStore.publishes.get() > mid,
        "catalog DDL/DML must commit through the conf-selected store")
      assert(spark.sql("SELECT count(*) FROM lscat.default.conf_t")
        .head().getLong(0) === 1L)
    } finally spark.conf.unset(graft.table.LogStore.ConfKey)
  }

  test("misconfigured logStore class fails loudly at load, never mid-commit") {
    spark.conf.set(graft.table.LogStore.ConfKey, "no.such.StoreClass")
    try {
      import spark.implicits._
      val e = intercept[IllegalArgumentException] {
        GraftTable.create(spark, tmpDir("logstore-bad-") + "/t",
          Seq((1L, "a")).toDF("id", "v"))
      }
      assert(e.getMessage.contains("no.such.StoreClass"))
      assert(e.getMessage.contains(graft.table.LogStore.ConfKey))
    } finally spark.conf.unset(graft.table.LogStore.ConfKey)
  }

  test("verifyAfterPublish=false skips the read-back (no doubled commit I/O)") {
    // A store that proves its own atomicity (posix hard-link CAS) opts out
    // of read-back verification: at 1M-AddFile commits the extra read
    // doubles commit I/O, and on a remote store it is a full round-trip
    // per commit. The commit path must not touch readLines at all.
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val store = new DelegatingStore {
      override val verifyAfterPublish: Boolean = false
      override def readLines(p: Path): Seq[String] = {
        reads.incrementAndGet(); super.readLines(p)
      }
    }
    val log = new GraftLog(tmpDir("logstore-noverify-"), store)
    log.commit(0L, seedActions(log))
    assert(reads.get() == 0,
      s"commit with verifyAfterPublish=false must not re-read, saw ${reads.get()}")
    // and the default PosixLogStore declares the opt-out
    assert(!PosixLogStore.verifyAfterPublish)
    // a verifying store (the trait default) still reads back and detects
    assert(new DelegatingStore().verifyAfterPublish)
  }
}

/** Top-level so `Class.forName` can load it from the conf value: a
  * conforming store (posix delegation) that counts its publishes. */
class ConfSelectedStore extends LogStore {
  import ConfSelectedStore.publishes
  override def readLines(p: Path): Seq[String] = PosixLogStore.readLines(p)
  override def readString(p: Path): String = PosixLogStore.readString(p)
  override def writeTmp(p: Path, bytes: Array[Byte]): Unit =
    PosixLogStore.writeTmp(p, bytes)
  override def publishIfAbsent(src: Path, dst: Path): Unit = {
    publishes.incrementAndGet(); PosixLogStore.publishIfAbsent(src, dst)
  }
  override def publishOverwrite(src: Path, dst: Path): Unit =
    PosixLogStore.publishOverwrite(src, dst)
  override def exists(p: Path): Boolean = PosixLogStore.exists(p)
  override def isRegularFile(p: Path): Boolean = PosixLogStore.isRegularFile(p)
  override def isDirectory(p: Path): Boolean = PosixLogStore.isDirectory(p)
  override def list(dir: Path, glob: String): Seq[Path] = PosixLogStore.list(dir, glob)
  override def deleteIfExists(p: Path): Boolean = PosixLogStore.deleteIfExists(p)
  override def mtimeMs(p: Path): Long = PosixLogStore.mtimeMs(p)
  override def createDirectories(p: Path): Unit = PosixLogStore.createDirectories(p)
}

object ConfSelectedStore {
  val publishes = new java.util.concurrent.atomic.AtomicInteger
}
