package graft.queries

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec, TestSpark}

/** Regression guard for `q_percentile_approx`'s frequency-domain
  * rewrite: its exact percentiles are pre-aggregated per return flag
  * and joined back to the sketches, so a flag whose quantity or price
  * is entirely NULL has no pre-aggregate rows. It must keep its row with
  * NULL percentiles, as the single-aggregate spelling does. */
class PercentileNullGroupSpec extends SparkSpec {

  test("q_percentile_approx keeps a return flag whose quantity or price " +
      "is entirely NULL, with NULL percentiles") {
    import spark.implicits._
    val dir = TestSpark.scratch("pct-null-groups")
    Seq[(String, Option[Double], Option[Double])](
      ("A", Some(1.0), Some(10.5)), ("A", Some(7.0), Some(99.9)),
      ("A", Some(4.0), None), ("A", None, Some(55.0)),
      ("N", None, Some(20.0)), ("N", None, Some(30.0)),
      ("R", Some(3.0), None), ("R", Some(5.0), None))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_percentile_approx")(spark, dir)
      .select("l_returnflag", "p25_qty", "med_qty", "p75_qty", "p99_price")
      .collect().toSeq
    val expected = table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("q"),
        expr("percentile(floor(l_extendedprice), 0.99)").as("p99_price"))
      .select(col("l_returnflag"), element_at(col("q"), 1).as("p25_qty"),
        element_at(col("q"), 2).as("med_qty"),
        element_at(col("q"), 3).as("p75_qty"), col("p99_price"))
      .orderBy(col("l_returnflag"))
      .collect().toSeq
    assert(got.map(_.getString(0)) === Seq("A", "N", "R"))
    assert(got === expected)
  }
}
