package graft.normalize

import graft.SparkSpec
import graft.schema.DltType
import org.apache.spark.sql.functions._

class CoerceSpec extends SparkSpec {
  import spark.implicits._

  test("text to bigint accepts decimal and hex") {
    val df = Seq("42", "0x2A", " 7 ", "nope").toDF("s")
      .withColumn("v", Coerce.textToBigint(col("s")))
    assert(df.select("v").as[Option[Long]].collect().toSeq ==
      Seq(Some(42L), Some(42L), Some(7L), None))
  }

  test("text to binary accepts hex and base64") {
    val df = Seq("0x0102", "AQI=").toDF("s")
      .withColumn("v", Coerce.textToBinary(col("s")))
    val out = df.select("v").as[Array[Byte]].collect()
    assert(out.forall(_.sameElements(Array[Byte](1, 2))))
  }

  test("text to bool via str2bool semantics") {
    val df = Seq("true", "YES", "0", "off", "garbage").toDF("s")
      .withColumn("v", Coerce.textToBool(col("s")))
    assert(df.select("v").as[Option[Boolean]].collect().toSeq ==
      Seq(Some(true), Some(true), Some(false), Some(false), None))
  }

  test("failed coercion lands in a variant column") {
    val df = Seq("1", "x", "3").toDF("n")
    val out = Coerce.withVariant(df, "n", DltType.Bigint)
    assert(out.columns.toSet == Set("n", "n__v_text"))
    val rows = out.orderBy("n").collect()
    val variants = out.select("n__v_text").as[Option[String]].collect().flatten.toSeq
    assert(variants == Seq("x"))
    assert(out.filter(col("n").isNotNull).count() == 2)
  }
}
