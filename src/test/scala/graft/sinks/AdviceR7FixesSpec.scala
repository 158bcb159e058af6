package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the three round-7 ADVICE fixes:
  *  1. table-lock keys normalize path spelling (ObjectStoreSink.lockObj);
  *  2. oracle-root sweeping respects a live owner pid (Scratch);
  *  3. PosixCommitPublisher retires crash-leaked `*.tmp-*` siblings.
  */
class AdviceR7FixesSpec extends AnyFunSuite with Matchers {

  test("table lock mutually excludes across path spellings of one dir") {
    val dir = Files.createTempDirectory("graft-lockspell-")
    val straight = dir.resolve("db").resolve("t")
    // same directory spelled through `..`: db/IGNORE/../t
    val dotted = dir.resolve("db").resolve("IGNORE").resolve("..").resolve("t")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var secondRan = false
    val holder = new Thread(() => ObjectStoreSink.withTableLock(straight) {
      entered.countDown(); release.await()
    })
    holder.start()
    entered.await()
    val contender = new Thread(() => ObjectStoreSink.withTableLock(dotted) {
      secondRan = true
    })
    contender.start()
    contender.join(300)
    withClue("dotted spelling acquired a DIFFERENT lock while held:") {
      secondRan shouldBe false
    }
    release.countDown()
    holder.join(2000); contender.join(2000)
    secondRan shouldBe true
  }

  test("oracle sweep spares live-owner roots, retires dead/legacy ones") {
    val now = System.currentTimeMillis()
    val old7h = FileTime.fromMillis(now - 7L * 3600 * 1000)
    def mkRoot(pid: Option[String], age: FileTime) = {
      val r = Files.createTempDirectory("graft-oracle-test-")
      pid.foreach(p => Files.writeString(r.resolve(".owner.pid"), p))
      Files.setLastModifiedTime(r, age)
      r
    }
    val myPid = ProcessHandle.current().pid().toString
    val live = mkRoot(Some(myPid), old7h)
    val dead = mkRoot(Some("999999999"), old7h) // no such pid
    val legacy = mkRoot(None, old7h)            // pre-marker root
    val ancientLive = mkRoot(Some(myPid), FileTime.fromMillis(now - 8L * 24 * 3600 * 1000))
    try {
      graft.Scratch.oracleSweepable(live, now) shouldBe false
      graft.Scratch.oracleSweepable(dead, now) shouldBe true
      graft.Scratch.oracleSweepable(legacy, now) shouldBe true
      withClue("7-day pid-reuse backstop:") {
        graft.Scratch.oracleSweepable(ancientLive, now) shouldBe true
      }
      // a FRESH root is never sweepable, whatever its marker state
      val fresh = mkRoot(None, FileTime.fromMillis(now))
      graft.Scratch.oracleSweepable(fresh, now) shouldBe false
      Files.walk(fresh).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p): Unit)
    } finally Seq(live, dead, legacy, ancientLive).foreach { r =>
      Files.walk(r).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p): Unit)
    }
  }

  test("publish retires crash-leaked stale temps but spares fresh ones") {
    val dir = Files.createTempDirectory("graft-tmpsweep-")
    // simulate a crash between write and move, 11 minutes ago
    val stale = dir.resolve("_commits.json.tmp-deadbeef")
    Files.writeString(stale, "[1]")
    Files.setLastModifiedTime(stale,
      FileTime.fromMillis(System.currentTimeMillis() - 11L * 60 * 1000))
    // a concurrent racer's temp written just now
    val freshTmp = dir.resolve("_commits.json.tmp-cafebabe")
    Files.writeString(freshTmp, "[2]")
    // an unrelated key's stale temp must NOT be touched by this key's sweep
    val otherKey = dir.resolve("manifest.json.tmp-00000000")
    Files.writeString(otherKey, "x")
    Files.setLastModifiedTime(otherKey,
      FileTime.fromMillis(System.currentTimeMillis() - 11L * 60 * 1000))

    PosixCommitPublisher.publish(dir, "_commits.json", "[1,2]")

    Files.readString(dir.resolve("_commits.json")) shouldBe "[1,2]"
    withClue("stale same-key temp must be swept:") {
      Files.exists(stale) shouldBe false
    }
    withClue("fresh same-key temp must survive (live racer):") {
      Files.exists(freshTmp) shouldBe true
    }
    withClue("other-key temp is not this publish's business:") {
      Files.exists(otherKey) shouldBe true
    }
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p): Unit)
  }
}
