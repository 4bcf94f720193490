package graft.pipelines

/** Shared pipeline scheduling: wave-parallel execution of a dependency
  * DAG — the execution model the reference gets from Airflow running
  * independent DAG tasks concurrently (SURVEY §3.1), without the
  * trigger/sensor machinery.
  *
  * Each wave materializes every table whose dependencies are already
  * built, all at once; Spark schedules the concurrent jobs across the
  * same executor pool (fair enough at any scale — each table is still
  * one isolated write, and a 1000-executor cluster keeps its queues
  * full instead of draining between sequential small jobs). Wall-clock
  * drops from Σ(table) to Σ(critical path).
  */
object Pipelines {

  /** Run `materialize` over every node of a DAG in dependency waves,
    * each wave on [[graft.Par.run]] with one thread per node (no build
    * waits for a thread). Throws on cycles; on a build failure the
    * wave's other builds finish first, then the first failure
    * propagates and no later wave starts. */
  def runWaves[T](nodes: Seq[T], name: T => String, deps: T => Seq[String],
                  traceTag: String)(materialize: T => Unit): Unit = {
    var remaining = nodes
    val finished = scala.collection.mutable.Set.empty[String]
    while (remaining.nonEmpty) {
      val (ready, blocked) =
        remaining.partition(t => deps(t).forall(finished))
      if (ready.isEmpty) throw new IllegalStateException(
        s"dependency cycle or missing dep among: " +
          blocked.map(name).mkString(", "))
      val t0 = System.nanoTime()
      graft.Par.run(ready.map(t => () => materialize(t)),
        maxThreads = ready.size)
      if (sys.env.contains("GRAFT_TRACE"))
        System.err.println(f"[$traceTag] wave " +
          s"${ready.map(name).mkString(", ")}: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      finished ++= ready.map(name)
      remaining = blocked
    }
  }
}
