package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.Types

/** Semantic-type metadata over StructFields: construction, readback, and
  * parquet round-trip survival. */
class TypesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(2)

  override def afterAll(): Unit = spark.stop()

  test("htype constructors carry physical type + semantic metadata") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      Types.embedding("emb", size = 64),
      Types.image("img", sampleCompression = "jpeg"),
      Types.boundingBox("boxes", format = "LTRB"),
      Types.classLabel("label"),
      Types.text("body", index = "bm25"),
      Types.dict("props")))
    assert(schema("emb").dataType == ArrayType(FloatType))
    assert(Types.htypeOf(schema("emb")).contains("embedding"))
    assert(Types.embeddingSize(schema("emb")).contains(64L))
    assert(schema("img").dataType == BinaryType)
    assert(schema("img").metadata.getString("sample_compression") == "jpeg")
    assert(schema("boxes").metadata.getString("format") == "LTRB")
    assert(Types.htypes(schema) == Map(
      "emb" -> "embedding", "img" -> "image", "boxes" -> "bbox",
      "label" -> "class_label", "body" -> "text", "props" -> "dict"))
  }

  test("semantic metadata survives a parquet round-trip") {
    val dir = Files.createTempDirectory("graft-types").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      Types.embedding("emb", size = 4)))
    val rows = java.util.Arrays.asList(
      Row(1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      Row(2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
    spark.createDataFrame(rows, schema).write.parquet(s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
    assert(Types.htypeOf(back.schema("emb")).contains("embedding"))
    assert(Types.embeddingSize(back.schema("emb")).contains(4L))
  }
}
