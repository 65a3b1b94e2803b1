package graft.ops

/** Where an artifact's `LATEST` version pointer lives — the ONE piece
  * of the versioned-pointer commit discipline whose atomicity depends
  * on the filesystem ([[Staging]]'s portability contract: rename is
  * atomic on local/HDFS but copy+delete on S3A). Everything else the
  * discipline writes is immutable (version dirs, segments), so
  * swapping ONLY the pointer resolution out to an external commit log
  * closes the object-store atomic-publish caveat: segments and
  * manifests stay on the (cheap, eventually-consistent-safe) store,
  * while the pointer lives wherever the deployment can do an atomic
  * compare-and-swap — a JDBC database here; the same contract fits a
  * DynamoDB/ZooKeeper/etcd implementation.
  *
  * ==Contract==
  *  - [[current]]: the last successfully published version of `root`,
  *    None before the first publish.
  *  - [[publish]]: atomically advance `root`'s pointer to `n`.
  *    MONOTONIC: `n` must exceed the stored version — a stale or
  *    duplicate writer (two uncoordinated processes committing the
  *    same artifact) must fail LOUDLY, never silently move the pointer
  *    backwards over a newer commit. A publish that throws leaves the
  *    pointer unchanged; the orphaned version dir is uncommitted by
  *    definition and reclaimed by the next writer's
  *    [[Staging.nextVersionDir]] / [[Staging.gcSegments]].
  *
  * The store serializes the POINTER and (via the lease operations
  * below) WRITER MUTUAL EXCLUSION; it never serializes the version-dir
  * writes themselves. Without a lease, two concurrent writers can
  * resolve the same next version number and overwrite each other's dir
  * BEFORE either publishes ([[Staging.nextVersionDir]] clears the
  * target) — the losing publish fails loudly, but the winning pointer
  * may then name a dir the loser partially rewrote. The lease closes
  * that window: [[Staging.acquireWriter]] takes the lease BEFORE any
  * version dir is staged, [[Staging.nextVersionDir]] refuses to stage
  * while another holder's unexpired lease exists, and the streaming
  * maintainers ([[graft.streaming.Maintenance.fold]]) acquire one lease per fold —
  * so the loser of a two-writer race fails loudly before writing a
  * byte. Lease strength follows the store: the JDBC implementation is
  * a transactional compare-and-swap (hard mutual exclusion up to clock
  * skew — size `ttlMs` above both the longest fold and the worst
  * cross-host skew); the file implementation is a best-effort lock
  * file (a filesystem cannot CAS, so two simultaneous stealers of an
  * EXPIRED lease can both win — deployments needing hard exclusion use
  * the JDBC store, the same split as the pointer itself).
  *
  * Readers never touch leases, and a held lease never blocks reads.
  * Readers inside one process see their own publishes immediately
  * (both implementations are strongly consistent).
  */
trait PointerStore {
  def current(root: String): Option[Long]
  def publish(root: String, n: Long): Unit

  /** The stored lease record for `root`, if any — `(owner,
    * expiresEpochMs)`, INCLUDING expired records (callers compare
    * against their own clock; an expired record is reclaimable).
    */
  def lease(root: String): Option[(String, Long)]

  /** Acquire or extend the writer lease on `root` for `owner`: true
    * iff `owner` now holds an unexpired lease (fresh root, self-renew,
    * or reclaim of an expired record); false iff another owner's
    * unexpired lease blocks it. Never throws on contention.
    */
  def tryLease(root: String, owner: String, ttlMs: Long): Boolean

  /** Drop `owner`'s lease on `root` (no-op when not held by `owner` —
    * releasing a lease another writer already reclaimed must not
    * revoke THEIRS).
    */
  def releaseLease(root: String, owner: String): Unit
}

object PointerStore {

  /** The default store: `root/LATEST` via the Hadoop FileSystem API —
    * tmp-file + rename-with-overwrite, atomic on local/HDFS (the
    * pre-extraction behavior, unchanged byte-for-byte on disk, so
    * every existing artifact keeps working).
    *
    * Lease = `root/.lease` lock file (`owner\nexpiresEpochMs`),
    * written tmp-file + atomic rename like the pointer. BEST-EFFORT:
    * rename-with-overwrite cannot compare-and-swap, so two writers
    * that simultaneously observe the same lease as absent/expired can
    * both "win" the steal (last rename stands, both proceed) — the
    * documented residual window. In the steady state it still catches
    * every real two-writer mistake loudly (the second writer sees the
    * first's unexpired record), and hard mutual exclusion is what
    * [[Jdbc]] is for.
    */
  object File extends PointerStore {
    def current(root: String): Option[Long] = {
      val p = s"$root/LATEST"
      if (Staging.exists(p)) Some(Staging.readString(p).trim.toLong)
      else None
    }

    def lease(root: String): Option[(String, Long)] = {
      val p = s"$root/.lease"
      if (!Staging.exists(p)) None
      else Staging.readString(p).split('\n') match {
        case Array(o, e) if scala.util.Try(e.trim.toLong).isSuccess =>
          Some((o, e.trim.toLong))
        // torn/corrupt lock file (wrong line count OR a garbled expiry
        // — a crash mid-primitive, the non-atomic object-store rename
        // caveat, manual edits): treat as an EXPIRED record —
        // reclaimable, never a permanent wedge that only a manual
        // delete clears
        case _ => Some(("<corrupt>", Long.MinValue))
      }
    }

    def tryLease(root: String, owner: String, ttlMs: Long): Boolean = {
      val now = System.currentTimeMillis()
      val blocked = lease(root).exists { case (o, e) => o != owner && e > now }
      if (blocked) false
      else {
        // unique tmp per attempt: a SHARED tmp path would let two
        // concurrent acquirers interleave write/rename so one renames
        // the OTHER'S record into place and returns true holding
        // nothing — with per-attempt tmps the rename installs exactly
        // the bytes this attempt wrote, and the read-back confirms
        // whose record actually stands (rename-with-overwrite still
        // cannot CAS, so the losing writer of a simultaneous steal is
        // told `false` here rather than at its next renew)
        val tmp = s"$root/.lease.tmp.${java.util.UUID.randomUUID()}"
        Staging.writeString(tmp, s"$owner\n${now + ttlMs}")
        Staging.atomicRename(tmp, s"$root/.lease")
        lease(root).exists { case (o, e) => o == owner && e > now }
      }
    }

    // check-then-delete, NOT atomic (the same best-effort residual as
    // tryLease's steal window): between the owner check and the
    // delete, a reclaimer of an EXPIRED lease could write its record
    // and lose it to this delete. Only reachable when this owner's
    // lease already expired un-renewed — the release is then at worst
    // a no-op-equivalent (the artifact returns to the unleased state a
    // crash would have left anyway); hard release atomicity is the
    // JDBC store's DELETE ... WHERE owner = ?.
    def releaseLease(root: String, owner: String): Unit =
      if (lease(root).exists(_._1 == owner))
        Staging.deleteTree(s"$root/.lease")

    def publish(root: String, n: Long): Unit = {
      // best-effort monotonic guard: a read-then-swap cannot be atomic
      // on a filesystem (exactly the caveat [[PointerStore.Jdbc]]
      // closes), but it upgrades the common stale-writer mistakes —
      // double-commit bugs, a crashed writer retrying an already
      // published version — from a silent backward pointer move to a
      // loud failure
      current(root).filter(_ >= n).foreach(c =>
        throw new IllegalStateException(
          s"PointerStore.File: $root already at version $c >= $n — " +
            "stale or duplicate writer; refusing to move the pointer " +
            "backwards"))
      val tmp = s"$root/.LATEST.tmp"
      Staging.writeString(tmp, n.toString)
      Staging.atomicRename(tmp, s"$root/LATEST")
    }
  }

  /** JDBC-backed commit log: one row per artifact root in `table`,
    * advanced by a transactional compare-and-swap (`UPDATE … WHERE
    * root = ? AND version < ?` — zero rows updated means a concurrent
    * or stale writer, surfaced as IllegalStateException). This is the
    * object-store deployment path ([[Staging]]'s S3A caveat): the
    * database serializes the swap, so a reader sees the old complete
    * version or the new one, never a torn pointer, regardless of the
    * blob store's rename semantics.
    *
    * Engine-neutral SQL (tested against embedded Derby, the only JDBC
    * engine shipped with Spark — same move as [[graft.sources.Jdbc]]);
    * a Postgres/MySQL deployment changes the URL, nothing else. One
    * connection per call: pointer ops are O(commits), not O(rows) —
    * pool at the deployment layer if commits are frequent.
    */
  final class Jdbc(url: String,
                   table: String = "graft_pointers") extends PointerStore {

    private def withConn[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(url)
      try f(c) finally c.close()
    }

    /** Create the pointer table if absent (Derby has no IF NOT EXISTS;
      * the duplicate-object error is the documented probe).
      */
    private def ensureTable(c: java.sql.Connection): Unit = {
      val st = c.createStatement()
      try st.executeUpdate(s"CREATE TABLE $table (" +
        "root VARCHAR(1024) NOT NULL PRIMARY KEY, version BIGINT NOT NULL)")
      catch {
        case e: java.sql.SQLException
          if e.getSQLState == "X0Y32" || // Derby: object already exists
            e.getSQLState == "42S01" => () // SQL standard: table exists
      } finally st.close()
    }

    def current(root: String): Option[Long] = withConn { c =>
      ensureTable(c)
      val ps = c.prepareStatement(
        s"SELECT version FROM $table WHERE root = ?")
      try {
        ps.setString(1, root)
        val rs = ps.executeQuery()
        try if (rs.next()) Some(rs.getLong(1)) else None
        finally rs.close()
      } finally ps.close()
    }

    def publish(root: String, n: Long): Unit = withConn { c =>
      ensureTable(c)
      c.setAutoCommit(false)
      try {
        val up = c.prepareStatement(
          s"UPDATE $table SET version = ? WHERE root = ? AND version < ?")
        val advanced =
          try { up.setLong(1, n); up.setString(2, root); up.setLong(3, n)
            up.executeUpdate() == 1 }
          finally up.close()
        if (!advanced) {
          // no row advanced: either first publish (insert) or a newer/
          // equal version already stored (stale writer — fail loudly)
          val ins = c.prepareStatement(
            s"INSERT INTO $table (root, version) VALUES (?, ?)")
          try { ins.setString(1, root); ins.setLong(2, n)
            ins.executeUpdate() }
          catch {
            case e: java.sql.SQLException if e.getSQLState == "23505" =>
              throw new IllegalStateException(
                s"PointerStore.Jdbc: $root already at version >= $n — " +
                  "a concurrent or stale writer lost the commit race. " +
                  "The pointer is unchanged; if two writers shared this " +
                  "artifact, the published dir may hold the loser's " +
                  "files (single-writer-per-artifact is the commit " +
                  "discipline — see the PointerStore scaladoc)")
          } finally ins.close()
        }
        c.commit()
      } catch { case t: Throwable => c.rollback(); throw t }
    }

    // ------------------------------------------------ writer lease
    // One row per root in `<table>_lease`, advanced by the same
    // transactional CAS discipline as the pointer: `UPDATE … WHERE
    // root = ? AND (owner = ? OR expires <= now)` — zero rows updated
    // AND a blocked insert means another writer's unexpired lease
    // stands. This is HARD mutual exclusion up to clock skew (the
    // database serializes the swap); size ttlMs above the worst skew
    // plus the longest fold.

    private def leaseTable = s"${table}_lease"

    private def ensureLeaseTable(c: java.sql.Connection): Unit = {
      val st = c.createStatement()
      try st.executeUpdate(s"CREATE TABLE $leaseTable (" +
        "root VARCHAR(1024) NOT NULL PRIMARY KEY, " +
        "owner VARCHAR(256) NOT NULL, expires BIGINT NOT NULL)")
      catch {
        case e: java.sql.SQLException
          if e.getSQLState == "X0Y32" || e.getSQLState == "42S01" => ()
      } finally st.close()
    }

    def lease(root: String): Option[(String, Long)] = withConn { c =>
      ensureLeaseTable(c)
      val ps = c.prepareStatement(
        s"SELECT owner, expires FROM $leaseTable WHERE root = ?")
      try {
        ps.setString(1, root)
        val rs = ps.executeQuery()
        try if (rs.next()) Some((rs.getString(1), rs.getLong(2))) else None
        finally rs.close()
      } finally ps.close()
    }

    def tryLease(root: String, owner: String, ttlMs: Long): Boolean =
      withConn { c =>
        ensureLeaseTable(c)
        val now = System.currentTimeMillis()
        c.setAutoCommit(false)
        try {
          val up = c.prepareStatement(s"UPDATE $leaseTable SET owner = ?, " +
            "expires = ? WHERE root = ? AND (owner = ? OR expires <= ?)")
          val advanced =
            try { up.setString(1, owner); up.setLong(2, now + ttlMs)
              up.setString(3, root); up.setString(4, owner); up.setLong(5, now)
              up.executeUpdate() == 1 }
            finally up.close()
          val held = advanced || {
            // no row advanced: fresh root (insert) or another owner's
            // unexpired lease (dup key — blocked, NOT an error: lease
            // contention is an expected outcome, unlike a stale publish)
            val ins = c.prepareStatement(s"INSERT INTO $leaseTable " +
              "(root, owner, expires) VALUES (?, ?, ?)")
            try { ins.setString(1, root); ins.setString(2, owner)
              ins.setLong(3, now + ttlMs); ins.executeUpdate(); true }
            catch {
              case e: java.sql.SQLException if e.getSQLState == "23505" =>
                false
            } finally ins.close()
          }
          c.commit()
          held
        } catch { case t: Throwable => c.rollback(); throw t }
      }

    def releaseLease(root: String, owner: String): Unit = withConn { c =>
      ensureLeaseTable(c)
      val ps = c.prepareStatement(
        s"DELETE FROM $leaseTable WHERE root = ? AND owner = ?")
      try { ps.setString(1, root); ps.setString(2, owner)
        ps.executeUpdate(); () }
      finally ps.close()
    }
  }
}
