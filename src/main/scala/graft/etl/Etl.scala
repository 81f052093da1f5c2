package graft.etl

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Shared ETL-job helpers. */
object Etl {

  /** A tab-separated file with a header line, every column a string: the
    * frame `header=true` inference gives, without its job. The header
    * line is read on the driver and passed as the schema, so building the
    * frame starts no Spark job. Names must be non-empty, quote-free and
    * distinct ignoring case (where inference would rename or unquote). */
  def readTsv(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val in = new BufferedReader(new InputStreamReader(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p), UTF_8))
    val header = try Option(in.readLine()).getOrElse("") finally in.close()
    val names = header.stripSuffix("\r").split("\t", -1).toSeq
    require(names.forall(n => n.nonEmpty && !n.contains('"')) &&
      names.map(_.toLowerCase(Locale.ROOT)).distinct.size == names.size,
      s"$path: header names must be non-empty, unquoted and distinct " +
        s"ignoring case: ${names.mkString("[", ", ", "]")}")
    spark.read.option("sep", "\t").option("header", "true")
      .schema(StructType(names.map(StructField(_, StringType)))).csv(path)
  }

  /** Group membership (J1/J3 + A5): the non-null `sample_id`s present in
    * both `a` and `b` (either side may repeat an id), as ONE row whose
    * `member` is the sorted array of `{entity: {reference: ref(id)}}`.
    *
    * Plan: the two id columns are tag-unioned and gathered by one
    * single-partition exchange; in that partition a `groupBy(sample_id)`
    * keeps the ids tagged by both sides and the global collect builds
    * the array. No join, no `distinct`, no second exchange. */
  def groupMembers(a: DataFrame, b: DataFrame)(ref: Column => Column): DataFrame =
    a.select(col("sample_id"), lit(1).as("side"))
      .unionByName(b.select(col("sample_id"), lit(2).as("side")))
      .filter(col("sample_id").isNotNull)
      .repartition(1)
      .groupBy(col("sample_id"))
      .agg(bit_or(col("side")).as("sides"))
      .filter(col("sides") === 3)
      .agg(sort_array(collect_list(struct(
        struct(ref(col("sample_id")).as("reference")).as("entity"))))
        .as("member"))
}
