package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The driver's oracle compare loads both result sets into pandas and sorts
  * rows by every column; array/map/struct cells make that sort throw
  * (`unhashable type: numpy.ndarray`). Guard: every declared query must
  * emit only scalar columns — serialize arrays (concat_ws) before output.
  */
class QueryOutputSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  test("all SparkEntry queries emit scalar-only output schemas") {
    val sf = sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata/sf0.001")
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[MapType]
          || f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(bad.isEmpty, s"non-sortable output columns:\n${bad.mkString("\n")}")
  }
}
