package graft

import org.apache.hadoop.fs.{Path => HPath}
import graft.operators.WriterLease

/** The lease protocol's own contract, independent of any layout: the
  * pre-commit verify kills a stalled holder whose lease was legally
  * stolen, verify refreshes the heartbeat, release is owner-only, and
  * under a many-thread hammer the withLease critical section is
  * genuinely mutually exclusive.
  */
/** RawLocalFileSystem whose `setTimes` is a NO-OP — the object-store
  * (S3A-like) mtime behavior the lease's content heartbeat exists
  * for. Registered per-test via `fs.noopmtime.impl`.
  */
class NoMtimeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "noopmtime"
  override def getUri: java.net.URI =
    java.net.URI.create("noopmtime:///")
  override def setTimes(p: HPath, mtime: Long, atime: Long): Unit = ()
}

/** RawLocalFileSystem recording the NAME of every deleted path, in
  * order — the fixture that pins release's heartbeat-before-lease
  * delete ordering (the reverse order opens a window where a rival
  * acquirer's fresh heartbeat is swept). Registered per-test via
  * `fs.delorder.impl`.
  */
class DeleteOrderFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "delorder"
  override def getUri: java.net.URI =
    java.net.URI.create("delorder:///")
  override def delete(p: HPath, recursive: Boolean): Boolean = {
    DeleteOrderFileSystem.log.add(p.getName)
    super.delete(p, recursive)
  }
}
object DeleteOrderFileSystem {
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class WriterLeaseSpec extends SparkSpec {

  private def fs = new HPath("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("verify kills a stalled holder after a legal steal; release " +
      "is owner-only; verify refreshes the heartbeat") {
    withTempDir("graft-lease") { root =>
      val lp = new HPath(s"$root/_lock/lease")
      // holder A acquires, then stalls past the horizon
      val a = WriterLease.acquire(spark, root)
      fs.setTimes(lp, System.currentTimeMillis() - 7200000L, -1)
      // B legally steals the stale lease
      val b = WriterLease.acquire(spark, root)
      // A's pre-commit verify must now REFUSE — this is the
      // two-stealers/stalled-holder backstop: A never publishes
      val e = intercept[IllegalArgumentException] {
        WriterLease.verify(spark, a)
      }
      assert(e.getMessage.contains("was lost"), e.getMessage)
      // A's release must NOT delete B's lease (owner-only)
      WriterLease.release(spark, a)
      assert(fs.exists(lp), "a loser's release deleted the live lease")
      // B's verify succeeds and refreshes the heartbeat mtime
      fs.setTimes(lp, System.currentTimeMillis() - 600000L, -1)
      val before = fs.getFileStatus(lp).getModificationTime
      WriterLease.verify(spark, b)
      assert(fs.getFileStatus(lp).getModificationTime > before,
        "verify did not refresh the heartbeat")
      WriterLease.release(spark, b)
      assert(!fs.exists(lp))
    }
  }

  test("withLease is mutually exclusive under a many-thread hammer " +
      "and re-entrant on the owning thread") {
    withTempDir("graft-lease-mx") { root =>
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
      val entered = new java.util.concurrent.atomic.AtomicInteger(0)
      val refused = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (1 to 12).map(_ => new Thread(() =>
        for (_ <- 1 to 5) {
          try {
            WriterLease.withLease(spark, root) {
              val now = inside.incrementAndGet()
              maxSeen.accumulateAndGet(now, math.max)
              entered.incrementAndGet()
              // re-entrant on the SAME thread: no self-deadlock, no
              // second acquire
              WriterLease.withLease(spark, root) { () }
              Thread.sleep(1)
              inside.decrementAndGet()
            }
          } catch {
            case _: IllegalStateException => refused.incrementAndGet()
            case t: Throwable => errs.add(t)
          }
        }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.isEmpty, errs.toArray.mkString(", "))
      assert(maxSeen.get() === 1,
        s"two holders ran the critical section concurrently")
      // the hammer did real work on both sides of the contract
      assert(entered.get() >= 1 && refused.get() >= 1,
        s"entered=${entered.get()} refused=${refused.get()} — the " +
          "race never actually contended")
      // nothing leaked
      assert(!fs.exists(new HPath(s"$root/_lock/lease")))
    }
  }

  test("release sweeps only lock containers — an in-root lease on an " +
      "empty (not-yet-initialized) data root leaves the root intact; " +
      "a sibling __lock root is swept whole") {
    withTempDir("graft-lease-sweep") { tmp =>
      // CDC convention: lease INSIDE the data root (root/_lock/lease).
      // Acquire/release on a root that holds nothing but the lock tree
      // is a legal public-API pairing (a CDC root's lease taken
      // before `PartitionedCdc.init`) — the sweep must not delete the
      // caller's root itself.
      val dataRoot = s"$tmp/data"
      fs.mkdirs(new HPath(dataRoot))
      val a = WriterLease.acquire(spark, dataRoot)
      WriterLease.release(spark, a)
      assert(fs.exists(new HPath(dataRoot)),
        "release swept the caller's data root")
      assert(!fs.exists(new HPath(s"$dataRoot/_lock")),
        "release leaked the lock container")
      // artifact convention: SIBLING lock root (<dir>__lock) — the
      // whole short-lived tree is swept so temp artifacts don't leak
      // one empty dir per lease
      val sib = s"$tmp/idx__lock"
      val b = WriterLease.acquire(spark, sib)
      WriterLease.release(spark, b)
      assert(!fs.exists(new HPath(sib)),
        "release leaked the sibling lock root")
    }
  }

  test("asOwner transfers ownership across threads: the batch thread " +
      "re-enters wrapped mutators and heartbeats; an unrelated " +
      "thread still refuses at entry") {
    withTempDir("graft-lease-owner") { root =>
      val lp = new HPath(s"$root/_lock/lease")
      val lease = WriterLease.acquire(spark, root)
      try {
        // age the heartbeat, then run a "micro-batch" on another
        // thread under asOwner — the foreachBatch thread-hop shape
        fs.setTimes(lp, System.currentTimeMillis() - 600000L, -1)
        val before = fs.getFileStatus(lp).getModificationTime
        val reentered =
          new java.util.concurrent.atomic.AtomicBoolean(false)
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val t = new Thread(() =>
          try WriterLease.asOwner(spark, root, lease) {
            // a wrapped mutator on the batch thread RE-ENTERS
            // instead of refusing, and the pre-write fence sees the
            // transferred lease
            WriterLease.withLease(spark, root) {
              reentered.set(true)
            }
            WriterLease.verifyHeld(spark, root)
          } catch { case x: Throwable => errs.add(x) })
        t.start(); t.join()
        assert(errs.isEmpty, errs.toArray.mkString(", "))
        assert(reentered.get())
        assert(fs.getFileStatus(lp).getModificationTime > before,
          "asOwner did not heartbeat the lease")
        // a thread NOT given the lease conflicts like a second
        // process — refuses at entry
        val refused =
          new java.util.concurrent.atomic.AtomicBoolean(false)
        val u = new Thread(() =>
          try WriterLease.withLease(spark, root) { () }
          catch { case _: IllegalStateException => refused.set(true)
                  case x: Throwable => errs.add(x) })
        u.start(); u.join()
        assert(errs.isEmpty, errs.toArray.mkString(", "))
        assert(refused.get(), "an unrelated thread entered under " +
          "the stream's lease")
      } finally WriterLease.release(spark, lease)
      assert(!fs.exists(lp))
    }
  }

  test("object-store heartbeat: on a setTimes-no-op filesystem a " +
      "live holder's verify extends the lease past the horizon via " +
      "the content heartbeat; a holder that stops beating is stolen; " +
      "the orphan heartbeat never shields the next lease") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.noopmtime.impl", classOf[NoMtimeFileSystem].getName)
    withTempDir("graft-lease-s3") { local =>
      val root = s"noopmtime://$local"
      val nfs = new HPath(root).getFileSystem(conf)
      val lp = new HPath(s"$root/_lock/lease")
      val hb = new HPath(s"$root/_lock/heartbeat")
      spark.conf.set("graft.lease.stealHorizonMs", "1000")
      try {
        val a = WriterLease.acquire(spark, root)
        // sanity: this filesystem really no-ops setTimes (the S3A
        // behavior under test) — without that the test proves nothing
        val m0 = nfs.getFileStatus(lp).getModificationTime
        nfs.setTimes(lp, 12345L, -1)
        assert(nfs.getFileStatus(lp).getModificationTime === m0,
          "fake fs honored setTimes — fix the fixture")
        // beat every 150 ms to t+1.2 s: mtime is frozen at acquire,
        // so WITHOUT the content heartbeat the lease would look
        // stale after 1 s and the steal below would succeed
        (1 to 8).foreach { _ =>
          Thread.sleep(150); WriterLease.verify(spark, a)
        }
        assert(nfs.exists(hb), "verify wrote no content heartbeat")
        intercept[IllegalStateException] {
          WriterLease.acquire(spark, root)
        }
        // the holder stops beating: past the horizon the lease is
        // stolen exactly as before, and the steal sweeps the orphan
        // heartbeat (its token matches nothing now)
        Thread.sleep(1200)
        val b = WriterLease.acquire(spark, root)
        assert(!nfs.exists(hb),
          "steal left the dead holder's heartbeat behind")
        intercept[IllegalArgumentException] {
          WriterLease.verify(spark, a)
        }
        WriterLease.release(spark, a)
        assert(nfs.exists(lp), "a loser's release deleted B's lease")
        // B's own beat + release leave no residue
        WriterLease.verify(spark, b)
        WriterLease.release(spark, b)
        assert(!nfs.exists(lp) && !nfs.exists(hb))
      } finally spark.conf.unset("graft.lease.stealHorizonMs")
    }
  }

  test("release deletes the lease file FIRST and sweeps only its " +
      "OWN heartbeat; a steal's sweep is token-matched — a rival's " +
      "fresh heartbeat survives both") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.delorder.impl",
      classOf[DeleteOrderFileSystem].getName)
    try withTempDir("graft-lease-order") { local =>
      // ordering: heartbeat-first would manufacture our own
      // staleness mid-release on setTimes-no-op stores (mtime past
      // the horizon, freshness carried only by the heartbeat) — a
      // rival could legally steal in the gap and our lease delete
      // would then remove the RIVAL's lease. Lease-first + a
      // token-matched sweep closes both directions.
      val root = s"delorder://$local"
      val a = WriterLease.acquire(spark, root)
      WriterLease.verify(spark, a) // writes the content heartbeat
      DeleteOrderFileSystem.log.clear()
      WriterLease.release(spark, a)
      val dels = DeleteOrderFileSystem.log.toArray(Array.empty[String])
      val (hbAt, leaseAt) =
        (dels.indexOf("heartbeat"), dels.indexOf("lease"))
      assert(hbAt >= 0 && leaseAt >= 0, dels.mkString(", "))
      assert(leaseAt < hbAt,
        s"release deleted the heartbeat before the lease: " +
          dels.mkString(", "))
    } finally {
      // the scheme registration and the recording log are shared
      // session state — leaking either would surprise any suite
      // sharing this SparkContext
      conf.unset("fs.delorder.impl")
      DeleteOrderFileSystem.log.clear()
    }
    withTempDir("graft-lease-relrival") { root =>
      // a heartbeat that is not ours at release time can only belong
      // to a rival that won the freed lease mid-release — the
      // token-matched sweep must leave it alone
      val hb = new HPath(s"$root/_lock/heartbeat")
      val a = WriterLease.acquire(spark, root)
      val out = fs.create(hb, true)
      try out.write(("rival-token\n" + System.currentTimeMillis())
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      WriterLease.release(spark, a)
      assert(!fs.exists(new HPath(s"$root/_lock/lease")),
        "release left the lease file")
      assert(fs.exists(hb),
        "release swept a heartbeat that was not its own")
      fs.delete(hb, false)
    }
    withTempDir("graft-lease-sweeptok") { root =>
      // steal sweep: a heartbeat whose token does NOT match the dead
      // lease can only belong to a rival acquirer that won the freed
      // path mid-steal — it must survive the sweep (it also never
      // shields the dead lease: token-mismatched heartbeats are
      // ignored by the staleness check, so the steal itself proceeds)
      val lp = new HPath(s"$root/_lock/lease")
      val hb = new HPath(s"$root/_lock/heartbeat")
      val a = WriterLease.acquire(spark, root)
      fs.setTimes(lp, System.currentTimeMillis() - 7200000L, -1)
      val out = fs.create(hb, true)
      try out.write(("rival-token\n" + System.currentTimeMillis())
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val b = WriterLease.acquire(spark, root) // legal steal
      assert(fs.exists(hb),
        "the steal swept a heartbeat that was not the dead holder's")
      WriterLease.release(spark, a) // loser: no-op
      WriterLease.release(spark, b)
    }
  }

  test("verifyHeld fences a wrapped mutator whose lease was stolen " +
      "mid-mutation, and is a no-op off-lease") {
    withTempDir("graft-lease-fence") { root =>
      // no lease held on this thread: the fence must be a no-op (the
      // streaming gates' lease-less fast path)
      WriterLease.verifyHeld(spark, root)
      val lp = new HPath(s"$root/_lock/lease")
      intercept[IllegalArgumentException] {
        WriterLease.withLease(spark, root) {
          // the holder stalls past the horizon and a second writer
          // legally steals; the holder's next stage-boundary fence
          // must refuse BEFORE any destructive write
          fs.setTimes(lp, System.currentTimeMillis() - 7200000L, -1)
          val stealer = WriterLease.acquire(spark, root)
          try WriterLease.verifyHeld(spark, root)
          finally WriterLease.release(spark, stealer)
        }
      }
    }
  }
}
