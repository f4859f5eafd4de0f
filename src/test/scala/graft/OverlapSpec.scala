package graft

import graft.core.{JdbcStore, StateStore, Store}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, udf}

/** [[Overlap]] waits for every job: a store commit whose append fails
  * returns only after its sibling appends have finished, so a retried
  * commit never races the failed attempt's writes. */
class OverlapSpec extends SparkSpec {

  private val failing = udf((x: Long) => {
    if (x >= 0) throw new IllegalStateException("injected append failure")
    x
  })
  private val slow = udf((x: Long) => { Thread.sleep(1500); x })

  /** Two rows of `(slot, v)`, one partition, through `f`. */
  private def rows(f: org.apache.spark.sql.expressions.UserDefinedFunction,
      tag: String): (DataFrame, String) =
    (spark.range(0, 2, 1, 1).select(f(col("id")).as("slot"), lit(tag).as("v")),
      "slot")

  private val same = udf((x: Long) => x)

  private def failThenRetry(store: Store): Unit = {
    val schema = rows(same, "x")._1.schema
    assert(store.commit(0L, Map("a" -> rows(same, "a0"), "b" -> rows(same, "b0")),
      Map.empty))
    intercept[Exception] {
      store.commit(1L, Map("a" -> rows(failing, "bad"), "b" -> rows(slow, "late")),
        Map.empty)
    }
    org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a sibling append was still running when commit threw")
    assert(store.commit(1L, Map("a" -> rows(same, "a1"), "b" -> rows(same, "b1")),
      Map.empty))
    def vs(t: String) = store.read(t, schema).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(vs("a") == Seq((0L, "a0"), (0L, "a1"), (1L, "a0"), (1L, "a1")))
    assert(vs("b") == Seq((0L, "b0"), (0L, "b1"), (1L, "b0"), (1L, "b1")))
  }

  test("segment-log: a failed append waits for its slow sibling; the retry reads back its own rows") {
    failThenRetry(new StateStore(tmpDir("overlap-seg"), spark))
  }

  test("jdbc-derby: a failed collect waits for its slow sibling; the retry reads back its own rows") {
    failThenRetry(new JdbcStore(tmpDir("overlap-jdbc"), spark))
  }

  test("every job is awaited and the first failure carries the others") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Overlap.all(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); done.incrementAndGet() },
        () => { Thread.sleep(100); throw new IllegalArgumentException("second") }))
    }
    assert(e.getMessage == "first" && done.get == 1)
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(Overlap.pair(1, "x") == ((1, "x")))
  }
}
