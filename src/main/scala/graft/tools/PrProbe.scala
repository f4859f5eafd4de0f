package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: does the q93 per-iteration join re-shuffle the edge
  * relation, or is the materialized degE partitioning reused?
  */
object PrProbe {
  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.01"
    val spark = graft.Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark
    val e0 = graft.Tables.orders(s, d)
      .join(graft.Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val edges = graft.queries.Scratch.materialize(
      e0.unionByName(e0.select(col("b").as("a"), col("a").as("b"))), "prp_edges")
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val degE = graft.queries.Scratch.materialize(edges.join(deg, "a"), "prp_deg")
    val ranks = graft.queries.Scratch.materialize(
      deg.select(col("a").as("node"), lit(1000000L).as("rank")), "prp_r0")
    val next = degE.join(ranks, degE("a") === ranks("node"))
      .select(col("b"), expr("(rank * 85) div (deg * 100)").as("c"))
      .groupBy(col("b"))
      .agg((lit(150000L) + sum(col("c"))).as("rank"))
      .select(col("b").as("node"), col("rank"))
    println("=== iteration plan (plain) ===")
    println(next.queryExecution.executedPlan.toString.take(4000))
    // B variant: degE persisted (InMemoryRelation preserves the join's
    // own output partitioning + ordering on a)
    val degE2 = edges.join(deg, "a")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    degE2.count() // materialize the cache
    val next2 = degE2.join(ranks, degE2("a") === ranks("node"))
      .select(col("b"), expr("(rank * 85) div (deg * 100)").as("c"))
      .groupBy(col("b")).agg((lit(150000L) + sum(col("c"))).as("rank"))
      .select(col("b").as("node"), col("rank"))
    println("=== iteration plan (pre-partitioned degE) ===")
    println(next2.queryExecution.executedPlan.toString.take(4000))
    spark.stop()
  }
}
