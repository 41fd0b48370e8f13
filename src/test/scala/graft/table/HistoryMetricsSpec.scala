package graft.table

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every operation class stamps its CommitInfo through the one commit
  * path: this pins the exact `operationMetrics` key set each class
  * carries in `history()`, so a key nothing reads can't creep in and a key
  * something reads (the oracle's `numRewrittenFiles` on DELETE, q141, and
  * `numTargetFilesRewritten` on MERGE, q145) can't silently go missing. */
class HistoryMetricsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (i, s) => Row(i, s) }.asJava, schema)

  test("history carries the exact operationMetrics key set per operation class") {
    val t = GraftTable.create(spark, tmpDir("hist-keys-"),
      df((1 to 4).map(i => (i, s"a$i")): _*).repartition(1))
    t.append(df((5, "b5"), (6, "b6")).repartition(1))
    t.merge(df((1, "m1"), (10, "m10")), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v")).execute()
    t.delete(col("id") === 2)
    t.update(col("id") === 3, Map("v" -> "'u3'"))
    t.overwrite(df((20, "o20"), (21, "o21"), (22, "o22")).repartition(1))
    t.append(df((23, "o23")).repartition(1))
    t.optimize()
    t.restore(t.latestVersion - 2)
    Files.delete(Paths.get(t.path, t.snapshot.files.head.path))
    assert(t.fsck().size === 1)
    t.commitStreamingAppend(
      FileOps.writeDataFiles(df((30, "s30"), (31, "s31")), t.path), "q", 0L)
    t.addColumn("note", StringType)

    val rows = t.history().collect().map(r =>
      (r.getString(2), r.getMap[String, String](3).toMap)).reverse.toSeq
    assert(rows.map(_._1) === Seq("CREATE", "WRITE", "MERGE", "DELETE", "UPDATE",
      "OVERWRITE", "WRITE", "OPTIMIZE", "RESTORE", "FSCK", "STREAMING UPDATE",
      "ADD COLUMNS"))
    val keys = Seq(
      Set("numOutputRows"),
      Set("numOutputRows"),
      Set("numTargetFilesRewritten", "numOutputRows"),
      Set("numDeletedRows", "numRewrittenFiles", "numOutputRows"),
      Set("numUpdatedRows", "numRewrittenFiles", "numOutputRows"),
      Set("numOutputRows"),
      Set("numOutputRows"),
      Set("numFilesBefore", "numFilesAfter", "numFilesSkipped"),
      Set("restoredVersion", "numOutputRows"),
      Set("numRemovedFiles", "numOutputRows"),
      Set("txnAppId", "epoch", "numOutputRows"),
      Set("column"))
    rows.zip(keys).foreach { case ((op, metrics), want) =>
      assert(metrics.keySet === want, s"$op operationMetrics keys")
    }
    // numOutputRows counts the rows of the files a commit adds: the
    // copy-on-write MERGE rewrites its touched 4-row file and inserts one
    assert(rows.map(_._2.get("numOutputRows")).take(3) ===
      Seq(Some("4"), Some("2"), Some("5")))
    assert(rows(5)._2("numOutputRows") === "3")
    assert(rows(10)._2("numOutputRows") === "2")
    assert(rows(3)._2("numRewrittenFiles") === "1")
    assert(rows(2)._2("numTargetFilesRewritten") === "1")
    assert(rows(9)._2("numRemovedFiles") === "1")
  }

  test("a deletion-vector re-add is not counted as output rows") {
    val t = GraftTable.create(spark, tmpDir("hist-dv-"),
      df((1 to 4).map(i => (i, s"a$i")): _*).repartition(1))
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 2)
    t.merge(df((1, "m1"), (10, "m10")), "t.id = s.id")
      .whenMatchedUpdate(Map("v" -> "s.v"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "v" -> "s.v")).execute()
    val rows = t.history().collect().map(r =>
      (r.getString(2), r.getMap[String, String](3).toMap)).reverse.toSeq
    assert(rows.map(_._1) === Seq("CREATE", "SET TBLPROPERTIES", "DELETE", "MERGE"))
    assert(rows(1)._2.keySet === Set("deletionVectors.enabled"))
    assert(rows(2)._2 === Map("numDeletedRows" -> "1", "numRewrittenFiles" -> "0",
      "numDeletionVectors" -> "1", "numOutputRows" -> "0"))
    // the MERGE tombstones the matched row in place and appends only the
    // update's post-image and the insert
    assert(rows(3)._2 === Map("numTargetFilesRewritten" -> "0",
      "numDeletionVectors" -> "1", "numOutputRows" -> "2"))
  }
}
