package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{HealthStream, LeaderGate}

/** The reference's amISuper gate (chStats.py:370-382, 540-546): N
  * identical jobs, exactly one uploads; a dead or stopped leader is
  * replaced. Expiry paths use an injected clock — no sleeps.
  */
class LeaderGateSpec extends AnyFunSuite {

  private def tmp() =
    TempDirs("graft_lease").toString

  test("single leader: second contender is refused while lease is live") {
    val dir = tmp()
    var now = 1000L
    val a = new LeaderGate(dir, "A", ttlMs = 100, clock = () => now)
    val b = new LeaderGate(dir, "B", ttlMs = 100, clock = () => now)
    assert(a.tryAcquire())
    assert(!b.tryAcquire())
    assert(a.tryAcquire()) // re-entrant renew
    assert(!b.tryAcquire())
  }

  test("renewal extends the lease; an un-renewed one expires over to B") {
    val dir = tmp()
    var now = 1000L
    val a = new LeaderGate(dir, "A", ttlMs = 100, clock = () => now)
    val b = new LeaderGate(dir, "B", ttlMs = 100, clock = () => now)
    assert(a.tryAcquire())
    now += 90; assert(a.tryAcquire()) // renew inside ttl
    now += 90; assert(!b.tryAcquire()) // refreshed lease still live
    now += 101 // A never renews again: lease dies
    assert(b.tryAcquire())
    assert(!a.tryAcquire()) // ex-leader demotes itself, no double-write
  }

  test("clean release hands over instantly, and is a no-op for followers") {
    val dir = tmp()
    var now = 1000L
    val a = new LeaderGate(dir, "A", ttlMs = 60000, clock = () => now)
    val b = new LeaderGate(dir, "B", ttlMs = 60000, clock = () => now)
    assert(a.tryAcquire())
    b.release() // follower release must not clobber A's lease
    assert(!b.tryAcquire())
    a.release()
    assert(b.tryAcquire())
  }

  test("gated writer runs for the leader only") {
    val dir = tmp()
    var now = 1000L
    val a = new LeaderGate(dir, "A", ttlMs = 100, clock = () => now)
    val b = new LeaderGate(dir, "B", ttlMs = 100, clock = () => now)
    val ran = new ConcurrentLinkedQueue[String]()
    val wa = a.gated[String]((s, _) => ran.add(s"A:$s"))
    val wb = b.gated[String]((s, _) => ran.add(s"B:$s"))
    wa("x", 0); wb("x", 0)
    assert(ran.toArray.toSeq == Seq("A:x"))
  }

  test("two identical streaming jobs: one sink writes; failover works") {
    val spark = GraftSession.local()
    val sf = "/root/testdata/sf0.001"
    val src = TempDirs("graft_ha_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      src.resolve("events_1.parquet"))

    val leaseDir = tmp()
    val gateA = new LeaderGate(leaseDir, "A", ttlMs = 600000)
    val gateB = new LeaderGate(leaseDir, "B", ttlMs = 600000)
    assert(gateA.tryAcquire()) // A is leader before either job starts

    // (writer, rows) per written micro-batch; foreachBatch runs on this
    // driver, so a shared queue observes both jobs
    val writes = new ConcurrentLinkedQueue[(String, Long)]()
    def job(gate: LeaderGate, name: String) =
      HealthStream.windowedHealth(
          HealthStream.readEventStream(spark, src.toString))
        .writeStream.outputMode("update")
        .option("checkpointLocation",
          TempDirs(s"graft_ha_$name").toString)
        .foreachBatch(gate.gatedBatch(
          (b, _) => writes.add((gate.id, b.count()))))
        .start()

    val qa = job(gateA, "A")
    val qb = job(gateB, "B")
    qa.processAllAvailable(); qb.processAllAvailable()
    val phase1 = writes.toArray(Array.empty[(String, Long)]).toSeq
    assert(phase1.nonEmpty && phase1.forall(_._1 == "A"),
      s"only the leader may write, got $phase1")

    // leader shuts down cleanly: lease released, follower takes over on
    // the next micro-batch of new data
    qa.stop(); gateA.release()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      src.resolve("events_2.parquet"))
    qb.processAllAvailable(); qb.stop()
    val phase2 = writes.toArray(Array.empty[(String, Long)]).toSeq
      .drop(phase1.length)
    assert(phase2.nonEmpty && phase2.forall(_._1 == "B"),
      s"follower must take over after release, got $phase2")
  }
}
