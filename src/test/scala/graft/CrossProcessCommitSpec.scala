package graft

import graft.operators.ManifestCommit

/** CROSS-PROCESS commit races — the round-14 verdict's top ask. Every
  * prior race spec ran threads in ONE JVM, where [[ManifestCommit]]'s
  * striped lock serializes claim+swap before the kernel-atomic owner is
  * ever contended; here N SEPARATE JVMs (forked `java` processes running
  * [[graft.tools.CommitHammer]], no shared locks, no shared FS
  * instances) hammer one `file://` store, so the hard-link claim
  * (link(2) EEXIST) and the stale-base check before it carry the
  * guarantee alone — exactly the multi-writer-multi-host story the
  * commit tier claims at 100 TB.
  *
  * Pinned properties, inter-process:
  *   - mergeable appends: EVERY process's EVERY item lands exactly once
  *     (the round-13 lost-visible-update, now cross-process);
  *   - version claims: exactly one winner per version across processes,
  *     with the winner's own content committed;
  *   - the versioned log is contiguous and complete after all writers
  *     exit, and its newest version is the current state;
  *   - accounting closes: wins + sum(per-process claims_lost) =
  *     total attempts;
  *   - counter increments: every `incr` from every process lands once
  *     and returns its own value, with each process vacuuming the log.
  */
class CrossProcessCommitSpec extends SparkSpec {

  private def tmp(tag: String): String =
    tempDir(s"graft_xp_$tag")

  /** Fork one CommitHammer JVM; returns (process, collected stdout). */
  private def fork(mode: String, dir: String, id: Int, rounds: Int,
      goFile: String): (Process, java.lang.StringBuilder) = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    // the child needs the same JDK17 module opens Hadoop's local FS uses
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin, "-Xmx512m", "-XX:+UseSerialGC") ++ addOpens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.CommitHammer", mode, dir, id.toString,
      rounds.toString, goFile)).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(false)
    val p = pb.start()
    val out = new java.lang.StringBuilder
    val drainOut = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) { out.synchronized(out.append(l).append('\n')): Unit; l = r.readLine() }
    })
    val drainErr = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getErrorStream))
      var l = r.readLine()
      while (l != null) { System.err.println(s"[hammer-$id] $l"); l = r.readLine() }
    })
    drainOut.setDaemon(true); drainErr.setDaemon(true)
    drainOut.start(); drainErr.start()
    (p, out)
  }

  private def awaitReady(outs: Seq[java.lang.StringBuilder],
      procs: Seq[Process]): Unit = {
    val deadline = System.currentTimeMillis() + 120000L
    while (!outs.forall(o => o.synchronized(o.toString).contains("READY"))) {
      assert(procs.forall(_.isAlive) ||
        outs.forall(o => o.synchronized(o.toString).contains("READY")),
        "a hammer process died before the barrier")
      assert(System.currentTimeMillis() < deadline, "hammers never came up")
      Thread.sleep(20)
    }
  }

  private def run(mode: String, dir: String, writers: Int, rounds: Int):
      Seq[String] = {
    val go = java.nio.file.Paths.get(tmp(s"${mode}_go"), "GO")
    val forked = (1 to writers).map(fork(mode, dir, _, rounds, go.toString))
    awaitReady(forked.map(_._2), forked.map(_._1))
    java.nio.file.Files.write(go, Array.empty[Byte])
    forked.zipWithIndex.foreach { case ((p, _), i) =>
      assert(p.waitFor(5, java.util.concurrent.TimeUnit.MINUTES),
        s"hammer ${i + 1} did not finish")
      assert(p.exitValue() == 0, s"hammer ${i + 1} exited ${p.exitValue()}")
    }
    forked.map(_._2).map(o => o.synchronized(o.toString))
  }

  test("cross-process appends: 4 JVMs × 25 commitLoop appends — every process's every item lands; log contiguous") {
    val dir = "file:" + tmp("append")
    val writers = 4; val rounds = 25
    val outs = run("append", dir, writers, rounds)
    val lines = ManifestCommit.readCurrent(dir).get
    assert(lines(0).toLong == (writers * rounds).toLong,
      s"${writers * rounds} commits must produce that many versions, got ${lines(0)}")
    val items = lines(1).split(",").toSet
    val want = (for (w <- 1 to writers; r <- 1 to rounds) yield s"w$w-r$r").toSet
    assert(items == want,
      s"every writer's item must land exactly once (the lost-update " +
        s"property, inter-process); missing=${want.diff(items).take(5)} " +
        s"extra=${items.diff(want).take(5)}")
    // the versioned log is contiguous — every claim landed at a unique
    // next version, none skipped, none double-claimed
    assert(ManifestCommit.retainedVersions(dir) ==
      (1L to (writers * rounds).toLong),
      "versioned log must be contiguous 1..N")
    // each version's manifest has exactly one MORE item than its
    // predecessor (a merged retry can never drop or duplicate)
    val sizes = (1L to (writers * rounds).toLong).map(v =>
      ManifestCommit.readVersioned(dir, v)(1).split(",").length)
    assert(sizes == (1 to writers * rounds),
      "every committed version must add exactly one item")
    // accounting: every writer committed exactly `rounds` versions
    val wonCounts = outs.map(_.linesIterator.count(_.startsWith("WON ")))
    assert(wonCounts.forall(_ == rounds), s"per-process commits: $wonCounts")
  }

  test("cross-process claims: 4 JVMs racing tryCommit at the same versions — exactly one winner per version, winner's content on disk") {
    val dir = "file:" + tmp("claim")
    val writers = 4; val rounds = 25
    val outs = run("claim", dir, writers, rounds)
    // exactly-one-winner, cross-process: the union of WON lines covers
    // 1..rounds with no version claimed twice
    val wonBy: Seq[(Long, Int)] = outs.zipWithIndex.flatMap { case (o, i) =>
      o.linesIterator.filter(_.startsWith("WON "))
        .map(l => l.stripPrefix("WON ").trim.toLong -> (i + 1))
    }
    val byVersion = wonBy.groupBy(_._1)
    assert(byVersion.keySet == (1L to rounds.toLong).toSet,
      s"every version must be claimed by someone: ${byVersion.keySet}")
    val doubles = byVersion.filter(_._2.size > 1)
    assert(doubles.isEmpty,
      s"NO version may have two cross-process winners (the TOCTOU " +
        s"double-claim): $doubles")
    // the committed content is the winner's own payload — a second
    // "winner" whose rename overwrote the first cannot hide
    wonBy.foreach { case (v, w) =>
      assert(ManifestCommit.readVersioned(dir, v).toSeq ==
        Seq(v.toString, s"w$w"),
        s"version $v must hold winner $w's content")
    }
    // accounting closes: wins + losses = attempts (every process
    // attempted every version)
    val losses = outs.map(_.linesIterator.find(_.startsWith("LOST "))
      .map(_.stripPrefix("LOST ").trim.toLong).getOrElse(0L)).sum
    assert(wonBy.size + losses == (writers * rounds).toLong,
      s"wins ${wonBy.size} + lost-claims $losses must equal " +
        s"${writers * rounds} attempts")
    // reads resolve the newest committed version
    assert(ManifestCommit.currentVersion(dir) == rounds.toLong)
  }

  test("cross-process counter: 4 JVMs × 25 incr — final value 100, the returned values are exactly 1..100") {
    val dir = "file:" + tmp("counter")
    val writers = 4; val rounds = 25
    val outs = run("counter", dir, writers, rounds)
    val returned = outs.flatMap(_.linesIterator.filter(_.startsWith("WON "))
      .map(_.stripPrefix("WON ").trim.toLong))
    assert(returned.sorted == (1L to (writers * rounds).toLong),
      s"every increment must return its own value: ${returned.sorted}")
    assert(new graft.plans.Counter(dir).get() == (writers * rounds).toLong)
    assert(ManifestCommit.retainedVersions(dir).size <= graft.plans.Counter.RetainVersions + 1,
      s"the per-update vacuum must bound the log: ${ManifestCommit.retainedVersions(dir)}")
  }
}
