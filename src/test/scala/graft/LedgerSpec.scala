package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._

/** [[Ledger]]: labels reach pool threads, rows add up to the session,
  * job-free actions are attributed, and legs nest. */
class LedgerSpec extends SparkSpec {

  private def rowsOf(rows: Seq[LegRow]): Map[String, LegRow] =
    rows.map(r => r.leg -> r).toMap

  /** One single-task job. */
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 2, 1).count()

  override def beforeAll(): Unit = {
    super.beforeAll()
    Ledger.install(spark)
  }

  test("a caller's label reaches jobs on a driver-pool thread first created under another label") {
    Ledger.take(spark)
    // 12 jobs held open together: the pool must create threads for
    // them while leg `a` is open, and those threads inherit its label
    val held = () => { oneJob(); Thread.sleep(300); () }
    Ledger.leg("a")(Overlap.all(Seq.fill(12)(held)))
    Ledger.leg("b")(Overlap.all(Seq.fill(12)(held)))
    val r = rowsOf(Ledger.take(spark))
    assert(r("a").jobs == 12)
    assert(r("b").jobs == 12, s"b's jobs went to ${r.values.filter(_.jobs > 0).map(_.leg)}")
    assert(r.get("").forall(_.jobs == 0))
  }

  test("per-leg jobs, stages and tasks sum to the session totals") {
    val jobs, stages, tasks = new AtomicLong(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      Ledger.take(spark)
      Seq(jobs, stages, tasks).foreach(_.set(0))
      val sp = spark
      import sp.implicits._
      val df = spark.range(0, 2000, 1, 4).selectExpr("id % 7 AS k", "id AS v")
      oneJob() // unlabeled
      Ledger.leg("agg")(df.groupBy("k").sum("v").collect())
      Ledger.leg("outer") {
        Ledger.leg("join")(df.join(df.groupBy("k").count(), "k").count())
        Overlap.pair(oneJob(), Seq(1, 2, 3).toDF("x").filter($"x" > 1).count())
      }
      val rows = Ledger.take(spark)
      assert(rows.map(_.jobs).sum == jobs.get)
      assert(rows.map(_.stages).sum == stages.get)
      assert(rows.map(_.tasks).sum == tasks.get)
      assert(jobs.get >= 5 && stages.get > jobs.get / 2 && tasks.get > stages.get)
      val r = rowsOf(rows)
      assert(r("agg").jobs > 0 && r("outer/join").jobs > 0 && r("outer").jobs > 0)
      assert(r("agg").runMs >= 0 && r("agg").shuffleWriteBytes > 0)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("a job-free collect of a LocalRelation yields a leg row with Catalyst time") {
    val sp = spark
    import sp.implicits._
    Ledger.take(spark)
    val rows = Ledger.leg("local") {
      Seq((1L, "a"), (2L, "bb"), (3L, "ccc")).toDF("k", "v")
        .selectExpr((1 to 60).map(i => s"k * $i + length(upper(v)) AS c$i"): _*)
        .filter("c1 > 2").filter("c2 < 100").collect()
    }
    assert(rows.length == 2)
    val r = rowsOf(Ledger.take(spark))("local")
    assert(r.jobs == 0, "the collect should plan to a LocalTableScan")
    assert(r.executions == 1)
    assert(r.catalystMs > 0)
    assert(r.entries == 1 && r.wallMs >= r.driverMs)
  }

  test("nested legs report as outer/inner and the table is queryable") {
    Ledger.take(spark)
    Ledger.leg("outer")(Ledger.leg("inner")(oneJob()))
    oneJob()
    val r = rowsOf(Ledger.rows(spark))
    assert(r("outer/inner").jobs == 1 && r("outer/inner").tasks == 1)
    assert(r("outer").jobs == 0 && r("outer").entries == 1)
    assert(r("outer").wallMs >= r("outer/inner").wallMs)
    assert(r("").jobs == 1, "the label must close with its leg")
    assert(Ledger.df(spark).filter("leg = 'outer/inner' AND jobs = 1").count() == 1)
    assert(Ledger.within("outer/inner", "outer") && !Ledger.within("outerx", "outer"))
  }

  test("a chain batch runs every action inside a reducer's or the commit's leg") {
    // a reducer's leg spans its rollForward too: the wallet_utxo staged
    // collect and balance's eager analysis land in their reducer's row,
    // one window per reducer per batch, nothing in the caller's own row
    import graft.core._
    val blocks = graft.sources.ChainGen.generate(12, seed = 42L)
    val reducers = graft.operators.ReducerGraphs.default(
      graft.sources.ChainGen.Watched)
    val runner = new GraphRunner(spark,
      new JdbcStore(tmpDir("ledger-chain"), spark), reducers)
    runner.flush(blocks.take(6))
    Ledger.take(spark)
    Ledger.leg("sync")(runner.flush(blocks.drop(6)))
    val r = rowsOf(Ledger.take(spark))
    assert(r("sync").executions == 0 && r("sync").jobs == 0,
      s"actions outside every reducer leg: ${r("sync")}")
    reducers.foreach(red => assert(r(s"sync/${red.name}").entries == 1))
    assert(r("sync/wallet_utxo").executions >= 3) // staged + two outputs
    assert(r("sync/commit").entries == 1)
  }
}
