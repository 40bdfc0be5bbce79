package graft.tools

import graft.operators.ManifestCommit
import graft.plans.Counter

/** Child-process entry point for CrossProcessCommitSpec: a SEPARATE JVM
  * hammering one shared `file://` store through [[ManifestCommit]], so
  * the atomic claim (hard link) is contended WITHOUT the in-JVM striped
  * lock in the way — the round-14 race specs all ran threads inside one
  * JVM, where the stripe serializes the claims before the kernel-atomic
  * owner is ever exercised; this is the inter-process half of the
  * guarantee.
  *
  * No SparkSession: the commit plane is pure Hadoop-FS driver-side IO
  * (exactly what lets N independent writers on N hosts share a store).
  *
  * args: <mode> <dir> <writerId> <rounds> <goFile>
  *   - mode "append": `rounds` × [[ManifestCommit.commitLoop]] appends
  *     of item `w<id>-r<r>` — the mergeable-mutation path; every lost
  *     claim retries against the winner, so ALL items from ALL
  *     processes must land.
  *   - mode "claim": `rounds` × [[ManifestCommit.tryCommit]] at FIXED
  *     versions 1..rounds with payload `w<id>` — the raw
  *     exactly-one-winner-per-version property, cross-process.
  *   - mode "counter": `rounds` × [[Counter.incr]] on a counter at
  *     `dir` — atomic increments across processes, with the counter's
  *     per-update vacuum racing the other processes' claims.
  * Prints `READY`, waits for `goFile` to appear (the start barrier that
  * gets every JVM past startup before contention begins), hammers, then
  * prints `WON <v>` per claimed version (per returned value in counter
  * mode) and `LOST <n>` with its claims_lost counter. Exit 0 on
  * success. */
object CommitHammer {
  def main(args: Array[String]): Unit = {
    val Array(mode, dir, writerId, roundsS, goFile) = args
    val rounds = roundsS.toInt
    println("READY")
    Console.out.flush()
    val deadline = System.currentTimeMillis() + 120000L
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(goFile))) {
      if (System.currentTimeMillis() > deadline)
        sys.error("start barrier never opened")
      Thread.sleep(5)
    }
    val won = scala.collection.mutable.ArrayBuffer.empty[Long]
    mode match {
      case "append" =>
        (1 to rounds).foreach { r =>
          val v = ManifestCommit.commitLoop(dir) { (vv, base) =>
            val items = base.map(_(1).split(",").toSeq).getOrElse(Seq.empty)
            Seq(vv.toString, (items :+ s"w$writerId-r$r").mkString(","))
          }
          won += v
        }
      case "claim" =>
        (1L to rounds.toLong).foreach { v =>
          if (ManifestCommit.tryCommit(dir, v, Seq(v.toString, s"w$writerId")))
            won += v
        }
      case "counter" =>
        val c = new Counter(dir)
        (1 to rounds).foreach(_ => won += c.incr())
      case other => sys.error(s"unknown mode $other")
    }
    won.foreach(v => println(s"WON $v"))
    println(s"LOST ${ManifestCommit.metrics.get("claims_lost")}")
    Console.out.flush()
  }
}
