package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (Spark startup is ~5 s;
  * per-suite sessions would dominate test wall-clock). */
object SparkSpec {
  lazy val session: SparkSession =
    Sessions.builder("graft-test", 4).getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Evaluate scalar Column expressions against one row. */
  def evalRow(cols: Column*): org.apache.spark.sql.Row =
    spark.range(1).select(cols: _*).head()

  def eval1(c: Column): Any = evalRow(c).get(0)
}
