package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.Ingest

/** Ingest boundaries: CSV round-trip with schema inference, COCO JSON
  * explode into relational tables. */
class IngestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  test("csv round-trip preserves rows and infers numeric types") {
    val dir = Files.createTempDirectory("graft-csv").toString
    val src = graft.sources.Tables(spark, "/root/testdata/sf0.001", "nation")
    Ingest.toCsv(src, s"$dir/nation_csv")
    val back = Ingest.fromCsv(spark, s"$dir/nation_csv")
    assert(back.count() == src.count())
    assert(back.schema("n_nationkey").dataType.typeName != "string") // inferred numeric
    val a = src.orderBy("n_nationkey").collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue -> r.getAs[String]("n_name"))
    val b = back.orderBy("n_nationkey").collect()
      .map(r => r.getAs[Number]("n_nationkey").longValue -> r.getAs[String]("n_name"))
    assert(a.toSeq == b.toSeq)
  }

  test("orc round-trip preserves rows, schema, and pushdown surface") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val src = graft.sources.Tables(spark, "/root/testdata/sf0.001", "nation")
    Ingest.toOrc(src, s"$dir/nation_orc")
    val back = Ingest.fromOrc(spark, s"$dir/nation_orc")
    assert(back.schema == src.schema, "ORC must preserve the exact schema")
    val a = src.orderBy("n_nationkey").collect().map(_.toSeq)
    val b = back.orderBy("n_nationkey").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // predicate pushdown reaches the ORC scan like it does for parquet
    val plan = back.filter(col("n_regionkey") === 1)
      .select("n_name").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,1)]")
      || plan.toLowerCase.contains("pushedfilters"),
      s"no pushdown evidence in ORC scan plan:\n$plan")
  }

  test("coco json ingest explodes into images/annotations/categories") {
    val dir = Files.createTempDirectory("graft-coco")
    val coco =
      """{
        |  "images": [
        |    {"id": 1, "file_name": "a.jpg", "width": 640, "height": 480},
        |    {"id": 2, "file_name": "b.jpg", "width": 320, "height": 240}
        |  ],
        |  "annotations": [
        |    {"id": 10, "image_id": 1, "category_id": 7, "bbox": [0.0, 10.0, 50.0, 60.0], "area": 3000.0},
        |    {"id": 11, "image_id": 1, "category_id": 8, "bbox": [5.0, 5.0, 20.0, 20.0], "area": 400.0},
        |    {"id": 12, "image_id": 2, "category_id": 7, "bbox": [1.0, 2.0, 3.0, 4.0], "area": 12.0}
        |  ],
        |  "categories": [
        |    {"id": 7, "name": "cat"}, {"id": 8, "name": "dog"}
        |  ]
        |}""".stripMargin
    val f = dir.resolve("instances.json")
    Files.write(f, coco.getBytes(StandardCharsets.UTF_8))
    val (images, annotations, categories) = Ingest.fromCoco(spark, f.toString)
    assert(images.count() == 2)
    assert(annotations.count() == 3)
    assert(categories.count() == 2)
    // join shape: per-image annotation counts with category names
    val joined = annotations
      .join(images, "image_id").join(categories, "category_id")
      .groupBy(col("file_name")).agg(count(lit(1)).as("n_ann"))
      .orderBy(col("file_name")).collect()
    assert(joined.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a.jpg", 2L), ("b.jpg", 1L)))
    // bbox stays LTWH array<double>
    val bb = annotations.filter(col("ann_id") === 10).select(col("bbox")).head.getSeq[Double](0)
    assert(bb == Seq(0.0, 10.0, 50.0, 60.0))
  }

  test("jsonl round-trip: schema inferred, rows preserved") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl").toString
    val df = Seq((1L, "alpha", 0.5), (2L, "beta", 1.5), (3L, "gamma", 2.5))
      .toDF("id", "name", "score")
    Ingest.toJsonl(df, s"$dir/out")
    val back = Ingest.fromJsonl(spark, s"$dir/out")
    assert(back.count() === 3)
    val row = back.filter(col("id") === 2L).head()
    assert(row.getAs[String]("name") === "beta")
    assert(row.getAs[Double]("score") === 1.5)
  }

  test("tar shards read back: every member, exact bytes, no disk extraction") {
    import spark.implicits._
    val out = Files.createTempDirectory("tarrt").toString
    val docs = (1 to 25).map(i => (i.toLong, s"doc number $i", s"m$i"))
      .toDF("doc_id", "text", "meta")
    graft.sources.Batches.exportTarShards(docs, "doc_id",
      Seq("txt" -> "text", "json" -> "meta"), out, targetRowsPerShard = 8)
    val back = Ingest.fromTarShards(spark, out)
    assert(back.count() === 50) // 25 samples x 2 members
    val texts = back.filter(col("ext") === "txt")
      .select(col("key"), col("data").cast("string"))
      .collect().map(r => r.getString(0).toLong -> r.getString(1)).toMap
    assert(texts.size === 25)
    (1 to 25).foreach(i => assert(texts(i.toLong) === s"doc number $i"))
    // shard column tracks the archive a member came from
    val shards = back.select("shard").distinct().collect().map(_.getString(0))
    assert(shards.forall(_.startsWith("shard-")) && shards.length >= 2)
  }
}
