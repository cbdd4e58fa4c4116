package graft.plans

/** Grace-period GRAVEYARD for retired localCheckpoint blocks — the one
  * safe way to release a checkpoint that a consumer may still hold a
  * lazy plan over. A locally-checkpointed frame has its lineage
  * truncated, so unpersisting it under a live reader fails that read
  * with a lost-block error instead of a recompute; and the engine HANDS
  * OUT lazy frames routinely (query results from `Engine.run`, wire
  * responses, cached views), so "no one reads this anymore" is rarely
  * provable at release time. Retired checkpoints therefore age here:
  * reclaimed only after a grace period long enough to outlive any
  * plausible in-flight reader, with a bounded buffer so churn can't
  * pile blocks up for the session. The bound is BOTH count and
  * estimated BYTES (block-manager storage info captured at burial —
  * 32 retired views could be 32 multi-GB closures): overflow trims the
  * oldest, but never below a 1-minute floor — the trim must not
  * re-open the race it exists to close.
  *
  * Round-11 A/B (grace 10 s vs 10 min, affected-query subset and the
  * full suite): grace length showed NO measurable bench effect
  * (22.4 s vs 22.4 s on the subset; full suite at 10-min grace landed
  * back at round-9 levels), so the round-10 in-suite drag was ambient
  * measurement noise, not pinned blocks — the grace default stays
  * 10 min and the bytes bound below is defensive, not corrective.
  *
  * Shared by the dedup signature cache (evicted tables), TextAnalysis
  * scratch retirement (LM gram counts, classifier features), and the
  * IQL engine's displaced aggregate-support tables — whose projections
  * ARE served query results, the class that forced the move here from
  * the dedup module. Frames provably private to one call (seeds,
  * binding scratch, loop deltas) skip the graveyard and release
  * eagerly. */
object Graveyard {
  private val GraceNanos = 600L * 1000 * 1000 * 1000L // 10 min
  private val MinGraceNanos = 60L * 1000 * 1000 * 1000L // 1 min floor
  private val Max = 32
  private val MaxBytes = 2L * 1024 * 1024 * 1024 // 2 GiB of retired blocks
  private val buf = scala.collection.mutable.ArrayBuffer
    .empty[(Long, org.apache.spark.rdd.RDD[_], Long)] // (buriedAt, rdd, estBytes)

  /** Add `evicted` (if any) and reclaim everything past its grace. An
    * RDD whose context has stopped is dropped without an unpersist
    * call — the block manager died with the context. */
  def buryAndDrain(evicted: Option[org.apache.spark.rdd.RDD[_]]): Unit =
    buf.synchronized {
      val now = System.nanoTime()
      evicted.foreach { r =>
        // size estimate from the block manager at burial time (storage
        // info is driver-local metadata — no job); unknown sizes count 0
        val est = try r.sparkContext.getRDDStorageInfo
          .find(_.id == r.id).map(i => i.memSize + i.diskSize).getOrElse(0L)
        catch { case _: Throwable => 0L }
        buf += ((now, r, est))
      }
      def reclaim(entry: (Long, org.apache.spark.rdd.RDD[_], Long)): Unit =
        try { if (!entry._2.sparkContext.isStopped) entry._2.unpersist(false) }
        catch { case _: Throwable => () }
      val (expired, fresh) = buf.partition { case (t, _, _) =>
        now - t > GraceNanos }
      expired.foreach(reclaim)
      // overflow on count OR cumulative bytes: walk oldest-first,
      // trimming entries past the 1-minute floor until both bounds hold.
      // Within-floor entries are EXCLUDED from the overage totals — they
      // are untrimmable by construction, and counting them (e.g. one
      // >2 GiB retiree still inside the floor) would keep the overage
      // positive forever and collapse every other entry's grace to the
      // floor without reclaiming a single byte of the actual excess.
      val kept = scala.collection.mutable.ArrayBuffer
        .empty[(Long, org.apache.spark.rdd.RDD[_], Long)]
      val trimmable = fresh.filter { case (t, _, _) => now - t > MinGraceNanos }
      var overCount = math.max(0, trimmable.length - Max)
      var overBytes = trimmable.iterator.map(_._3).sum - MaxBytes
      fresh.foreach { entry =>
        val pastFloor = now - entry._1 > MinGraceNanos
        if ((overCount > 0 || overBytes > 0) && pastFloor) {
          reclaim(entry)
          overCount -= 1
          overBytes -= entry._3
        } else kept += entry
      }
      buf.clear()
      buf ++= kept
    }
}
