package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.yougile.Fixtures
import graft.yougile.Model.martColumns

/** Output checks, all run outside the timed region. */
object Checks {

  /** The 22-column mart as `Transform.mart` types it. */
  val martSchema: StructType = StructType(martColumns.map { c =>
    val t =
      if (c == "loaded_ts") TimestampType
      else if (c.endsWith("_dt") || c.endsWith("_date")) DateType
      else if (c.startsWith("quantity_")) DoubleType
      else StringType
    StructField(c, t)
  })

  def emptyMart(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], martSchema)

  /** Row count and an order-independent hash of every row, after casting
    * each column to its mart type and then to text, so a Derby read-back,
    * a parquet re-read and the DuckDB result compare on values alone.
    */
  final case class Fingerprint(rows: Long, hash: BigDecimal)

  def fingerprint(df: DataFrame): Fingerprint = {
    val cells = martSchema.fields.toSeq.map(f => coalesce(col(f.name).cast(f.dataType).cast(StringType), lit("\u0000")))
    val r = df.agg(count(lit(1)), sum(xxhash64(cells: _*).cast(DecimalType(38, 0)))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The expected mart of a universe: the gate's `yg_mart` oracle SQL,
    * pointed at the universe's parquet mirrors and run by DuckDB on the
    * given Python interpreter.
    */
  def expectedMart(spark: SparkSession, universe: Universe, work: Path, benchDir: Path, python: String): Fingerprint = {
    val mirrors = work.resolve("mirrors")
    universe.writeMirrors(spark, mirrors.toString)
    val sql = SparkEntry.oracleSql("yg_mart").replace(Fixtures.parquetDir, mirrors.toString)
    val sqlFile = work.resolve("yg_mart.sql")
    Files.writeString(sqlFile, sql)
    val out = work.resolve("expected.parquet")
    val proc = new ProcessBuilder(python, benchDir.resolve("oracle.py").toString, sqlFile.toString, out.toString)
      .inheritIO().start()
    val code = proc.waitFor()
    require(code == 0, s"DuckDB oracle exited with $code")
    fingerprint(spark.read.parquet(out.toString))
  }
}
