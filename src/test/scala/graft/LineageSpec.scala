package graft

import graft.materialize.GraphMaterializer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Exact-resume semantics of the lineage-tracked bucketed writer (S9). */
class LineageSpec extends AnyFunSuite {
  lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  def freshTable(): String =
    Files.createTempDirectory("graft_lineage").toString + "/triples"

  def data(n: Int) = (0 until n)
    .map(i => (f"doc$i%04d", s"subj$i", s"obj$i")).toDF("doc_id", "subj", "obj")

  test("writeResumable writes all buckets once, then resumes to zero work") {
    val table = freshTable()
    val n1 = GraphMaterializer.writeResumable(spark, data(200), table, nBuckets = 8)
    assert(n1 == 8)
    assert(GraphMaterializer.readTable(spark, table).count() == 200)
    // second invocation: everything complete — no bucket rewritten
    val n2 = GraphMaterializer.writeResumable(spark, data(200), table, nBuckets = 8)
    assert(n2 == 0)
  }

  test("partial lineage → only pending buckets are written, result complete") {
    val tableFull = freshTable()
    GraphMaterializer.writeResumable(spark, data(300), tableFull, nBuckets = 8)
    val full = GraphMaterializer.readTable(spark, tableFull)
      .select("doc_id", "subj", "obj").collect().toSet

    // simulate a crash: write only buckets 0-3's data by pre-marking 4-7 as
    // NOT done, i.e. do a full write, then delete half the lineage and the
    // matching data partitions, then resume
    val table = freshTable()
    GraphMaterializer.writeResumable(spark, data(300), table, nBuckets = 8)
    val lineage = spark.read.parquet(s"$table/_lineage")
      .filter(col("bucket") < 4)
    // rewrite lineage to only buckets 0-3; drop data for 4-7
    val keep = lineage.collect().map(_.getInt(0)).toSet
    spark.read.parquet(s"$table/_lineage").filter(col("bucket") < 4)
      .write.mode("overwrite").parquet(s"$table/_lineage_tmp")
    val fs = new java.io.File(s"$table/data")
    fs.listFiles().filter(f => f.getName.startsWith(GraphMaterializer.BucketCol))
      .filter { f =>
        val b = f.getName.split("=")(1).toInt; !keep.contains(b)
      }.foreach(f => { f.listFiles().foreach(_.delete()); f.delete() })
    new java.io.File(s"$table/_lineage").listFiles().foreach(_.delete())
    new java.io.File(s"$table/_lineage").delete()
    new java.io.File(s"$table/_lineage_tmp").renameTo(new java.io.File(s"$table/_lineage"))

    val resumed = GraphMaterializer.writeResumable(spark, data(300), table, nBuckets = 8)
    assert(resumed == 4, s"expected 4 pending buckets, wrote $resumed")
    val after = GraphMaterializer.readTable(spark, table)
      .select("doc_id", "subj", "obj").collect().toSet
    assert(after == full, "resume did not reconstruct the full table")
  }

  test("lineage derives from pending rows, not a re-read of the output table") {
    // plant a FOREIGN bucket partition in table/data before writing: if
    // writeResumable built lineage by scanning table/data (the 100 TB
    // second-full-pass anti-pattern), the foreign bucket would gain a
    // lineage row; deriving from `pending` must ignore it
    val table = freshTable()
    Seq(("docX", "s", "o")).toDF("doc_id", "subj", "obj")
      .withColumn(GraphMaterializer.BucketCol, lit(99))
      .write.partitionBy(GraphMaterializer.BucketCol).parquet(s"$table/data")
    GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4)
    val buckets = spark.read.parquet(s"$table/_lineage")
      .select("bucket").collect().map(_.getInt(0)).toSet
    assert(!buckets.contains(99),
      "lineage contains a bucket writeResumable never wrote — it re-read table/data")
    assert(buckets == (0 until 4).toSet)
    // and the per-bucket counts must cover exactly the 100 pending rows
    val total = spark.read.parquet(s"$table/_lineage")
      .agg(sum(col("n_triples"))).collect()(0).getLong(0)
    assert(total == 100)
  }

  test("resumable write is idempotent under re-run of a completed bucket") {
    val table = freshTable()
    GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4)
    // delete lineage only: data intact, all buckets re-run (overwrite)
    val lin = new java.io.File(s"$table/_lineage")
    lin.listFiles().foreach(_.delete()); lin.delete()
    GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4)
    assert(GraphMaterializer.readTable(spark, table).count() == 100,
      "dynamic overwrite must not duplicate rows")
  }

  test("resume: a missing lineage reads as empty, a corrupt one fails the write") {
    val table = freshTable()
    assert(GraphMaterializer.completedBuckets(spark, table).count() == 0)
    assert(GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4) == 4)
    // lineage files that are not parquet must fail the resume, not read as
    // "nothing done" and silently rewrite every bucket
    new java.io.File(s"$table/_lineage").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(f.toPath, "not parquet".getBytes("UTF-8")))
    intercept[org.apache.spark.SparkException] {
      GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4)
    }
    // a lineage dir holding only a crashed first append's _temporary is
    // still "nothing done"
    val crashed = freshTable()
    Files.createDirectories(java.nio.file.Paths.get(s"$crashed/_lineage/_temporary/0"))
    assert(GraphMaterializer.completedBuckets(spark, crashed).count() == 0)
    assert(GraphMaterializer.writeResumable(spark, data(100), crashed, nBuckets = 4) == 4)
  }

  test("a fresh write leaves one data file per bucket; a resume returns the lineage count") {
    import scala.reflect.io.Directory
    val table = freshTable()
    assert(GraphMaterializer.writeResumable(spark, data(300), table, nBuckets = 8) == 8)
    val bucketDirs = new java.io.File(s"$table/data").listFiles()
      .filter(_.getName.startsWith(GraphMaterializer.BucketCol))
    assert(bucketDirs.length == 8)
    bucketDirs.foreach { d =>
      val files = d.listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(files.length == 1, s"${d.getName} holds ${files.mkString(", ")}")
    }

    // a crash after buckets 0-3 were recorded: 4-7 lose lineage and data
    val kept = spark.read.parquet(s"$table/_lineage").filter(col("bucket") < 4)
      .as[core.LineageRow].collect().toSeq
    new Directory(new java.io.File(s"$table/_lineage")).deleteRecursively()
    kept.toDS().write.parquet(s"$table/_lineage")
    (4 until 8).foreach(b =>
      new Directory(new java.io.File(s"$table/data/${GraphMaterializer.BucketCol}=$b")).deleteRecursively())
    val resumed = GraphMaterializer.write(spark, data(300), table, nBuckets = 8)
    assert(resumed.buckets == 4)
    assert(resumed.rows == 300 && resumed.rows == GraphMaterializer.lineageRowCount(spark, table))
  }

  test("resume under a different bucket layout is refused, naming both layouts") {
    val table = freshTable()
    assert(GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4) == 4)
    val e = intercept[IllegalStateException] {
      GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 8)
    }
    assert(e.getMessage.contains("nBuckets=4 key=doc_id") &&
      e.getMessage.contains("nBuckets=8 key=doc_id"), e.getMessage)
    intercept[IllegalStateException] {
      GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4, key = "subj")
    }
    // the refused writes changed nothing; the original layout resumes
    assert(GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4) == 0)
    assert(GraphMaterializer.readTable(spark, table).count() == 100)
  }

  test("the layout record sits in the table on its own file system, URI paths too") {
    val dir = Files.createTempDirectory("graft_lineage")
    val table = dir.toUri.toString + "triples"
    assert(table.startsWith("file:"))
    assert(GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4) == 4)
    assert(Files.readString(dir.resolve("triples/_layout")) == "nBuckets=4 key=doc_id")
    intercept[IllegalStateException] {
      GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 8)
    }
    assert(GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4) == 0)
  }

  test("a table with lineage but no layout record is refused until the record is put back") {
    val table = freshTable()
    assert(GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4) == 4)
    val layout = java.nio.file.Paths.get(table, "_layout")
    val body = Files.readString(layout)
    Files.delete(layout)
    Files.deleteIfExists(java.nio.file.Paths.get(table, "._layout.crc"))
    Seq(4, 8).foreach { n =>
      val e = intercept[IllegalStateException] {
        GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = n)
      }
      assert(e.getMessage.contains("no layout record") &&
        e.getMessage.contains(s"nBuckets=$n key=doc_id"), e.getMessage)
    }
    Files.writeString(layout, body)
    assert(GraphMaterializer.writeResumable(spark, data(100), table, nBuckets = 4) == 0)
    assert(GraphMaterializer.readTable(spark, table).count() == 100)
  }
}
