package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The per-pid signature scratch purge ([[Dedup.purgeStaleSigDirs]]) is
  * best-effort: two harness processes starting together purge the same
  * dead trees, and the walk of one meets directories the other has just
  * deleted.
  */
class ScratchPurgeSpec extends AnyFunSuite {

  /** Pids above Linux's `pid_max` ceiling (2²²): no process holds them. */
  private val deadPids = (1 to 6).map(4194304L + 1000L * _)

  private def tree(root: Path, name: String): Path = {
    val top = root.resolve(name)
    for (d <- 0 until 12) {
      val dir = Files.createDirectories(top.resolve(s"k$d/part"))
      for (f <- 0 until 30) Files.writeString(dir.resolve(s"f$f.parquet"), "x")
    }
    top
  }

  test("two concurrent purges both return, keep the live pid's tree and " +
      "remove the dead ones") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val self = ProcessHandle.current().pid()
    try for (round <- 0 until 10) {
      val root = Files.createTempDirectory(s"graft-purge-$round-")
      val live = tree(root, s"p$self")
      val dead = deadPids.map(pid => tree(root, s"p$pid"))
      val start = new CountDownLatch(1)
      val purges = Seq.fill(2)(Future {
        start.await()
        Dedup.purgeStaleSigDirs(root)
      })
      start.countDown()
      Await.result(Future.sequence(purges), 60.seconds)
      assert((0 until 12).forall(d =>
        Files.exists(live.resolve(s"k$d/part/f29.parquet"))))
      dead.foreach(d => assert(!Files.exists(d), s"round $round: $d left"))
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally all.close()
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }
}
