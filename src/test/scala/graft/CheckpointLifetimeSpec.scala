package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Checkpoint blocks live as long as the plan that reads them: two
  * queries that materialize shared subtrees run concurrently on one
  * session, each driver collecting the JVM after every query the way
  * Bench does, and neither frees the other's blocks. */
class CheckpointLifetimeSpec extends SparkSpec {

  test("concurrent checkpointing queries keep their blocks until dropped") {
    val dir = "/root/testdata/sf0.001"
    // q_fuzzy_link_capped's returned plan reads its block censuses;
    // q_dedup_jaccard's reads its digest, membership and band checkpoints
    val names = Seq("q_fuzzy_link_capped", "q_dedup_jaccard")
    // one Bench.runOnce-style query: the result is unreachable once the
    // rows are out, then the driver GCs
    def runOnce(name: String): Seq[String] = {
      val rows = SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq
      System.gc()
      rows
    }
    val solo = names.map(n => n -> runOnce(n)).toMap
    val mark = nextRddId()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = names.map(n => n -> Future((1 to 3).map(_ => runOnce(n))))
      runs.foreach { case (n, f) =>
        Await.result(f, 5.minutes).foreach(rows =>
          assert(rows == solo(n), s"$n diverged from its solo run"))
      }
    } finally pool.shutdown()
    val left = persistedSince(mark)
    assert(left.isEmpty, s"blocks of dropped results still persisted: $left")
  }
}
