package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import graft.pipeline.Dag
import graft.pipeline.Dag.{AlreadyDone, Failed, Skipped, Stage, Succeeded}

/** Orchestration semantics (reference O4/O5 Airflow DAG analog): topo
  * ordering, parallel independent branches, idempotence guards, retries,
  * failure short-circuiting, cycle detection. */
class DagSpec extends SparkSpec {

  test("stages run in dependency order; independent branches both run") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def st(n: String, deps: String*) = Stage(n, deps)(() => { log.add(n); () })
    val r = Dag.run(Seq(
      st("prepare"), st("train", "prepare"), st("produce", "prepare"),
      st("predict", "train", "produce")))
    assert(r.ok)
    val order = log.toArray(Array.empty[String]).toSeq
    assert(order.head == "prepare" && order.last == "predict")
    assert(order.toSet == Set("prepare", "train", "produce", "predict"))
  }

  test("isDone short-circuits (idempotent re-run skips finished stages)") {
    val ran = new AtomicInteger(0)
    val r = Dag.run(Seq(
      Stage("done_already", isDone = () => true)(() => { ran.incrementAndGet(); () }),
      Stage("fresh", Seq("done_already"))(() => { ran.incrementAndGet(); () })))
    assert(r.status("done_already") == AlreadyDone)
    assert(r.status("fresh") == Succeeded)
    assert(ran.get() == 1)
  }

  test("failure marks transitive dependents skipped; other branches finish") {
    val r = Dag.run(Seq(
      Stage("root")(() => ()),
      Stage("boom", Seq("root"))(() => throw new RuntimeException("x")),
      Stage("after_boom", Seq("boom"))(() => ()),
      Stage("unaffected", Seq("root"))(() => ())))
    assert(r.status("boom").isInstanceOf[Failed])
    assert(r.status("after_boom") == Skipped)
    assert(r.status("unaffected") == Succeeded)
    assert(!r.ok)
  }

  test("retries: flaky stage succeeds within budget, attempts counted on failure") {
    val tries = new AtomicInteger(0)
    val r = Dag.run(Seq(Stage("flaky", maxRetries = 2)(() =>
      if (tries.incrementAndGet() < 3) throw new RuntimeException("transient"))))
    assert(r.status("flaky") == Succeeded)
    assert(tries.get() == 3)
    val r2 = Dag.run(Seq(Stage("hopeless", maxRetries = 1)(() =>
      throw new RuntimeException("always"))))
    r2.status("hopeless") match {
      case Failed(attempts, _) => assert(attempts == 2)
      case other => fail(s"expected Failed, got $other")
    }
  }

  test("a throwing isDone guard fails its stage and skips its dependents") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val run = Future(Dag.run(Seq(
      Stage("guarded", isDone = () => throw new IllegalStateException("guard"))(
        () => ()),
      Stage("after_guarded", Seq("guarded"))(() => ()))))
    val r = Await.result(run, 30.seconds)
    r.status("guarded") match {
      case Failed(0, e: IllegalStateException) => assert(e.getMessage == "guard")
      case other => fail(s"expected Failed(0, guard), got $other")
    }
    assert(r.status("after_guarded") == Skipped)
  }

  test("cycles are rejected") {
    val e = intercept[IllegalArgumentException] {
      Dag.run(Seq(Stage("a", Seq("b"))(() => ()), Stage("b", Seq("a"))(() => ())))
    }
    assert(e.getMessage.toLowerCase.contains("cycle"))
  }

  test("a cycle below a root stage is rejected before anything runs") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val ran = new AtomicInteger(0)
    val run = Future(Dag.run(Seq(
      Stage("r")(() => ran.incrementAndGet()),
      Stage("a", Seq("r", "b"))(() => ()),
      Stage("b", Seq("a"))(() => ()))))
    val e = intercept[IllegalArgumentException](Await.result(run, 30.seconds))
    assert(e.getMessage.contains("cycle") && e.getMessage.contains("a") &&
      e.getMessage.contains("b"), e.getMessage)
    assert(ran.get == 0, "the root ran before the cycle was refused")
  }

  test("the real 4-stage fraud pipeline runs under the DAG and re-runs as no-ops") {
    val work = java.nio.file.Files.createTempDirectory("graft_dag_e2e_").toString
    val (r1, a) = graft.pipeline.FraudPipeline.dag(spark, sfDir, work)
    assert(r1.ok, s"first run: ${r1.status}")
    assert(r1.status.values.forall(_ == Succeeded))
    val preds = graft.pipeline.FraudPipeline.readPredictions(spark, a)
    assert(preds.count() > 0)
    // second run: every stage guarded-done
    val (r2, _) = graft.pipeline.FraudPipeline.dag(spark, sfDir, work)
    assert(r2.ok)
    assert(r2.status.values.forall(_ == AlreadyDone), s"re-run: ${r2.status}")
  }
}
