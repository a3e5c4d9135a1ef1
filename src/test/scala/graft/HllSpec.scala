package graft

import org.apache.spark.sql.functions.udaf
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Hll, HllAggregator}

class HllSpec extends AnyFunSuite with SparkTestBase {

  test("estimate within 3x rsd for 10k and 100k distinct values") {
    Seq(10000, 100000).foreach { n =>
      val regs = Hll.emptyRegisters()
      (0 until n).foreach(i => Hll.add(regs, Hll.hash(s"user-$i")))
      val est = Hll.estimate(regs)
      assert(math.abs(est - n).toDouble / n <= 3 * 0.0081, s"n=$n est=$est")
    }
  }

  test("estimate within 3x rsd along the 1k-5M ladder, through the linear-counting transition") {
    // one register set grown rung by rung (the keys are shared prefixes
    // of one sequence); n=20k reads +1.33 %, the n=40k transition -0.013 %
    val ladder = Seq(1000, 5000, 10000, 20000, 30000, 40000, 50000, 60000, 80000,
                     100000, 200000, 500000, 1000000, 5000000)
    val regs = Hll.emptyRegisters()
    var i = 0
    ladder.foreach { n =>
      while (i < n) { Hll.add(regs, Hll.hash(s"sweep-$i")); i += 1 }
      val est = Hll.estimate(regs)
      assert(math.abs(est - n).toDouble / n <= 3 * 0.0081, s"n=$n est=$est")
    }
  }

  test("merge equals union (mergeability law behind partial aggregation)") {
    val a = Hll.emptyRegisters()
    val b = Hll.emptyRegisters()
    val u = Hll.emptyRegisters()
    (0 until 5000).foreach { i => Hll.add(a, Hll.hash(s"a-$i")); Hll.add(u, Hll.hash(s"a-$i")) }
    (0 until 5000).foreach { i => Hll.add(b, Hll.hash(s"b-$i")); Hll.add(u, Hll.hash(s"b-$i")) }
    assert(Hll.estimate(Hll.merge(a, b)) == Hll.estimate(u))
  }

  test("duplicates do not change the estimate") {
    val once = Hll.emptyRegisters()
    val thrice = Hll.emptyRegisters()
    (0 until 1000).foreach(i => Hll.add(once, Hll.hash(s"u$i")))
    (0 until 3).foreach(_ => (0 until 1000).foreach(i => Hll.add(thrice, Hll.hash(s"u$i"))))
    assert(Hll.estimate(once) == Hll.estimate(thrice))
  }

  test("native TypedImperativeAggregate matches the Aggregator tier exactly") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hll_distinct_native",
      exprs => graft.functions.expressions.HllDistinctAgg(exprs.head).toAggregateExpression(),
      "built-in")
    spark.udf.register("hll_distinct", udaf(new HllAggregator))
    Tables(spark, sf, "events").createOrReplaceTempView("ev_native")
    val r = spark.sql(
      """SELECT hll_distinct_native(CAST(user_id AS STRING)) AS a,
        |       hll_distinct(CAST(user_id AS STRING)) AS b FROM ev_native""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == r.getLong(1))
  }

  test("registered as a SQL UDAF, distributes over the events table") {
    spark.udf.register("hll_distinct", udaf(new HllAggregator))
    Tables(spark, sf, "events").createOrReplaceTempView("ev_hll")
    val est = spark.sql(
      "SELECT hll_distinct(CAST(user_id AS STRING)) AS d FROM ev_hll")
      .collect()(0).getLong(0)
    val exact = Tables(spark, sf, "events").select("user_id").distinct().count()
    assert(math.abs(est - exact) <= math.max(1.0, 3 * 0.0081 * exact), s"est=$est exact=$exact")
  }
}
