package graft.queries

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Pins [[Q]]'s per-tier table catalog: the schema and the scan split
  * count are resolved once per table fingerprint and session conf, so a
  * repeated build runs no job, while a table rewritten at the same path, a
  * self-join and a type-changing parquet conf still see what a fresh
  * `spark.read.parquet` would. Every case writes its own temp tier.
  */
class TableCatalogSpec extends SparkSpec {

  private def tier(tag: String): String = SparkSpec.tempDir(s"graft_catalog_$tag")

  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  behavior of "Q's table catalog"

  it should "see a column added by a rewrite at the same path" in {
    val dir = tier("rewrite")
    spark.range(0, 100).toDF("x").write.parquet(s"$dir/t.parquet")
    Q.t(spark, dir, "t").columns.toSeq shouldBe Seq("x")
    spark.range(0, 100).selectExpr("id AS x", "id * 2 AS y")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Q.t(spark, dir, "t")
    df.columns.toSeq shouldBe Seq("x", "y")
    df.selectExpr("sum(y)").head().getLong(0) shouldBe 9900L
  }

  it should "drop tPar's exchange once a rewrite spreads the table over 8 files" in {
    val dir = tier("splits")
    spark.range(0, 8000).coalesce(1).toDF("x").write.parquet(s"$dir/t.parquet")
    hasExchange(Q.tPar(spark, dir, "t")) shouldBe true
    spark.range(0, 8000).toDF("x").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Q.tPar(spark, dir, "t")
    hasExchange(df) shouldBe false
    df.count() shouldBe 8000L
  }

  it should "give two reads of one table distinct attribute ids for a self-join" in {
    val dir = tier("selfjoin")
    spark.range(0, 10).selectExpr("id AS k", "id + 1 AS next")
      .write.parquet(s"$dir/t.parquet")
    val a = Q.t(spark, dir, "t")
    val b = Q.t(spark, dir, "t")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    ids(a).intersect(ids(b)) shouldBe empty
    a.join(b, a("next") === b("k")).count() shouldBe 9L
  }

  it should "re-infer a binary column when binaryAsString changes" in {
    // parquet-mr writes no Spark schema into the footer, so the inferred
    // type of a plain BINARY column follows the conf
    val dir = tier("binary")
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val hadoopConf = new Configuration()
    GroupWriteSupport.setSchema(schema, hadoopConf)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet/part-00000.parquet"))
      .withConf(hadoopConf).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try Seq("0", "1", "2").foreach(v => w.write(gf.newGroup().append("b", v)))
    finally w.close()
    val conf = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, "false")
      Q.t(spark, dir, "t").schema("b").dataType shouldBe BinaryType
      spark.conf.set(conf, "true")
      val df = Q.t(spark, dir, "t")
      df.schema("b").dataType shouldBe StringType
      df.collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("0", "1", "2")
    } finally before match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  it should "run no job for a second build of the same table" in {
    val dir = tier("jobs")
    spark.range(0, 100).toDF("x").write.parquet(s"$dir/t.parquet")
    Q.tPar(spark, dir, "t")
    SparkSpec.jobsDuring(spark)(Q.t(spark, dir, "t"))._2 shouldBe 0
    SparkSpec.jobsDuring(spark)(Q.tPar(spark, dir, "t"))._2 shouldBe 0
  }
}
