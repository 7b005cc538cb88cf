package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-driver DAG orchestration — the reference's Airflow layer (O4/O5:
  * `airflow/dags/bigdata_pipeline.py` sequences prepare → train → produce
  * → predict as docker-exec tasks with dependencies) re-scoped
  * Spark-first. Process/cluster management stays OUT of the engine
  * (spark-submit owns the JVM), but the orchestration semantics the
  * reference actually relies on are engine-side and reusable:
  *
  *  - dependency ordering (Kahn topological schedule, cycle = error);
  *  - parallel execution of independent branches (bounded pool — what
  *    Airflow's scheduler gives the reference across its one linear DAG);
  *  - per-stage idempotence via `isDone` guards (the _SUCCESS-marker
  *    pattern q29/q83 use), so re-running a half-finished pipeline only
  *    runs the missing stages;
  *  - bounded retries, and failure short-circuiting: a failed stage marks
  *    its transitive dependents `skipped` while independent branches keep
  *    running.
  *
  * `FraudPipeline.dag` wires the reference's 4 stages onto this runner;
  * DagSpec covers the scheduling semantics in isolation.
  */
object Dag {

  /** One orchestrated stage. `isDone` short-circuits execution (idempotent
    * re-runs); `run` performs the side effect. */
  final case class Stage(
      name: String,
      deps: Seq[String] = Nil,
      maxRetries: Int = 0,
      isDone: () => Boolean = () => false)(val run: () => Unit)

  sealed trait Status
  case object Succeeded extends Status
  case object AlreadyDone extends Status
  final case class Failed(attempts: Int, error: Throwable) extends Status
  /** Not run because a transitive dependency failed. */
  case object Skipped extends Status

  final case class Report(status: Map[String, Status], order: Seq[String]) {
    def ok: Boolean = status.values.forall {
      case Succeeded | AlreadyDone => true
      case _ => false
    }
  }

  /** Runs the DAG; returns per-stage outcomes plus the start order.
    * Throws IllegalArgumentException on unknown deps or cycles. */
  def run(stages: Seq[Stage], parallelism: Int = 4): Report = {
    val byName = stages.map(s => s.name -> s).toMap
    require(byName.size == stages.size, "duplicate stage names")
    stages.foreach(s => s.deps.foreach(d2 =>
      require(byName.contains(d2), s"stage ${s.name}: unknown dep $d2")))

    // Kahn: indegree per stage, dependents adjacency
    val indeg = mutable.Map(stages.map(s => s.name -> s.deps.size): _*)
    val dependents = stages.flatMap(s => s.deps.map(_ -> s.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    // Kahn over the static graph before anything runs: a stage on a
    // cycle never reaches indegree 0, so the run would wait forever
    val roots = stages.filter(_.deps.isEmpty)
    val left = indeg.clone()
    val ready = mutable.Queue(roots.map(_.name): _*)
    while (ready.nonEmpty)
      dependents.getOrElse(ready.dequeue(), Nil).foreach { d2 =>
        left(d2) -= 1
        if (left(d2) == 0) ready.enqueue(d2)
      }
    val cyclic = stages.map(_.name).filter(left(_) > 0)
    require(cyclic.isEmpty, s"cycle detected among: $cyclic")

    val status = new java.util.concurrent.ConcurrentHashMap[String, Status]()
    val started = new ConcurrentLinkedQueue[String]()
    val pool = Executors.newFixedThreadPool(math.max(1, parallelism))
    val done = new CountDownLatch(stages.size)
    val lock = new Object

    def depsFailed(s: Stage): Boolean = s.deps.exists(d2 =>
      status.get(d2) match {
        case _: Failed | Skipped => true
        case _ => false
      })

    def finish(name: String, st: Status): Unit = {
      status.put(name, st)
      done.countDown()
      lock.synchronized {
        dependents.getOrElse(name, Nil).foreach { d2 =>
          indeg(d2) -= 1
          if (indeg(d2) == 0) submit(byName(d2))
        }
      }
    }

    def runWithRetries(s: Stage): Status = {
      var attempt = 0
      var outcome: Status = null
      while (outcome == null) {
        attempt += 1
        try { s.run(); outcome = Succeeded }
        catch {
          case e: Throwable if attempt > s.maxRetries =>
            outcome = Failed(attempt, e)
          case _: Throwable => // retry
        }
      }
      outcome
    }

    // a throwing isDone guard fails its stage (0 attempts) instead of
    // killing the pool task, which would leave `done` short forever
    def submit(s: Stage): Unit = pool.execute { () =>
      if (depsFailed(s)) finish(s.name, Skipped)
      else {
        started.add(s.name)
        finish(s.name,
          try if (s.isDone()) AlreadyDone else runWithRetries(s)
          catch { case e: Throwable => Failed(0, e) })
      }
    }

    try {
      lock.synchronized { roots.foreach(submit) }
      done.await()
    } finally pool.shutdown()
    Report(status.asScala.toMap, started.asScala.toSeq)
  }
}
