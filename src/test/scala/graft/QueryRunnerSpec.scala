package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** `QueryRunner` on the shared test session: the "rebuild" hands back
  * the same session and retiring it is a no-op, so no test stops the
  * context other suites use. */
class QueryRunnerSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("a run past its cap is cancelled and the session rebuilt; the context stays usable") {
    val (built, retired) = (new AtomicInteger, new AtomicInteger)
    val runner = new QueryRunner("qr-cap", 2,
      () => { built.incrementAndGet(); spark }, _ => retired.incrementAndGet())
    val r = runner.run("sleepy") { s =>
      s.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(120000); i }.count()
    }
    assert(r.breached)
    assert(r.value.swap.toOption.exists(_.getMessage.contains(
      "cancelled job group qr-cap-sleepy")), r.value)
    // cancelled within the grace, not left to the interrupt fallback
    assert(r.seconds >= 2 && r.seconds < 30, r.seconds)
    assert((built.get, retired.get) === ((2, 1)))
    val tracker = spark.sparkContext.statusTracker
    val jobs = tracker.getJobIdsForGroup("qr-cap-sleepy")
    assert(jobs.nonEmpty)
    eventually(timeout(30.seconds)) {
      assert(jobs.forall(j =>
        tracker.getJobInfo(j).exists(_.status == JobExecutionStatus.FAILED)))
    }
    assert(runner.spark.range(10).count() === 10)
  }

  test("a run caught between jobs at its cap has its later jobs refused") {
    val runner = new QueryRunner("qr-future", 2, () => spark, _ => ())
    val secondRan = new java.util.concurrent.atomic.AtomicBoolean
    val r = runner.run("between") { s =>
      s.range(10).count()
      Thread.sleep(3000) // planning on the driver past the cap: no job to cancel
      val n = s.range(10).count()
      secondRan.set(true)
      n
    }
    assert(r.breached)
    assert(!secondRan.get)
    assert(r.value.swap.toOption.exists(_.getMessage.contains("qr-future-between")), r.value)
    // refused at once, not waited out for the 30 s grace
    assert(r.seconds >= 2 && r.seconds < 10, r.seconds)
  }

  test("a body that throws returns its error and is not a breach") {
    val built = new AtomicInteger
    val runner = new QueryRunner("qr-fail", 60,
      () => { built.incrementAndGet(); spark }, _ => ())
    val r = runner.run("boom")(_ => throw new IllegalStateException("boom"))
    assert(!r.breached)
    assert(r.value.swap.toOption.map(_.getMessage) === Some("boom"))
    assert(built.get === 1)
  }

  test("persisted blocks from one query are gone before the next query runs") {
    val runner = new QueryRunner("qr-sweep", 0, () => spark, _ => ())
    val df = spark.range(7).toDF("x")
    val rddId = runner.run("a") { s =>
      df.cache().count()
      val rdd = s.sparkContext.parallelize(1 to 10).persist()
      rdd.count()
      rdd.id
    }.value.toOption.get
    def held(s: SparkSession): (Boolean, Boolean) =
      (s.sparkContext.getPersistentRDDs.contains(rddId),
        df.storageLevel != StorageLevel.NONE)
    // a repeat of the same query keeps the steady state it left
    assert(runner.run("a")(held).value === Right((true, true)))
    assert(runner.run("b")(held).value === Right((false, false)))
  }

  test("costOrdered: unknown names first, then ascending cost, ties by name") {
    val tsv = java.nio.file.Files.createTempFile("graft-costs", ".tsv")
    java.nio.file.Files.writeString(tsv,
      "q_b\t2.0\nq_a\t2.0\nq_c\t0.5\nnot a row\nq_x\tslow\n")
    val costs = QueryRunner.verifyCosts(tsv.toString)
    assert(costs === Map("q_b" -> 2.0, "q_a" -> 2.0, "q_c" -> 0.5))
    assert(QueryRunner.costOrdered(Seq("q_b", "q_c", "q_z", "q_a", "q_y"), costs)
      === Seq("q_y", "q_z", "q_c", "q_a", "q_b"))
    assert(QueryRunner.verifyCosts(s"$tsv.absent") === Map.empty)
  }

  test("shuffle-write bytes are attributed to the run that wrote them") {
    val runner = new QueryRunner("qr-shuffle", 0, () => spark, _ => ())
    def shuffle(s: SparkSession): Long = s.range(0, 1000, 1, 4).repartition(3).count()
    runner.run("w1")(shuffle)
    runner.run("none")(_.range(5).collect().length)
    runner.run("w2")(shuffle)
    // the bus is FIFO: once w2's task ends arrive, every earlier one has
    eventually(timeout(30.seconds)) {
      assert(runner.shuffleWriteBytes("w1") > 0 && runner.shuffleWriteBytes("w2") > 0)
    }
    assert(runner.shuffleWriteBytes("none") === 0)
    assert(runner.shuffleWriteBytes("w1") === runner.shuffleWriteBytes("w2"))
  }
}
