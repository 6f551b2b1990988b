package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Glacier — an Iceberg-style snapshot-table layer written from scratch
  * (no Iceberg runtime is resolvable offline; SURVEY.md §7.0 documents the
  * substitution). One Glacier root holds a *catalog* of named logical
  * tables whose state advances atomically in snapshots:
  *
  * {{{
  * root/
  *   data/snap-<id>-<tag>/<table>/  immutable parquet dirs (never
  *                             rewritten; <tag> is unique per commit
  *                             attempt so racing committers never share
  *                             a staging dir)
  *   meta/snap-<id>.json       manifest: parent id, per-table file lists
  *                             (per-partition lineage: part-file names +
  *                             byte sizes + row counts), per-table schema,
  *                             metrics
  *   meta/CURRENT              atomic pointer (tmp-write + ATOMIC_MOVE)
  * }}}
  *
  * Semantics:
  *  - `Append` table: snapshot's file list = parent's list ++ new dir
  *    (seen set, crawl-order log, docs — monotone state).
  *  - `Replace` table: file list = new dir only (frontier — rewritten
  *    each round).
  *  - Time travel: `read(table, Some(snapshotId))` unions exactly that
  *    snapshot's file list.
  *  - Schema: a table state records the schema its dirs were written with
  *    when they all share one, and every read passes it to the scan (no
  *    schema-inference job); see [[Glacier.TableState]].
  *  - Crash safety: data + manifest are written first; the commit *is* the
  *    pointer rename. A crash before the rename leaves the previous
  *    snapshot current and only orphan data files (never a torn table).
  *
  * At cluster scale the same layout works on any Hadoop-compatible FS;
  * the pointer rename maps to a conditional-put / metastore swap. Local
  * java.nio is used here because the sandbox FS is POSIX.
  */
final class Glacier(val root: String) {
  import Glacier._
  // expose the commit vocabulary through the instance for call-site brevity
  val Append: Glacier.Append.type = Glacier.Append
  val Replace: Glacier.Replace.type = Glacier.Replace
  def TableWrite(table: String, df: DataFrame, mode: Mode,
                 barrier: Boolean = false): Glacier.TableWrite =
    Glacier.TableWrite(table, df, mode, barrier)

  private implicit val fmts: Formats = DefaultFormats
  private val SnapJsonRe = "^snap-(\\d+)\\.json$".r

  private def metaDir: Path = Paths.get(root, "meta")

  // ---- read side -----------------------------------------------------------

  def currentSnapshotId: Option[Long] = {
    val p = metaDir.resolve("CURRENT")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  def manifest(id: Long): Manifest =
    readManifest(metaDir.resolve(s"snap-$id.json"))

  private def readManifest(p: Path): Manifest =
    JsonMethods.parse(Files.readString(p)).extract[Manifest]

  /** Missing-tolerant manifest lookup (expired or never-written snapshot
    * ids → None), keeping read()/rowCount()'s documented contract. */
  def manifestOpt(id: Long): Option[Manifest] =
    if (Files.exists(metaDir.resolve(s"snap-$id.json"))) Some(manifest(id))
    else None

  def currentManifest: Option[Manifest] = currentSnapshotId.map(manifest)

  def history: Seq[Manifest] = {
    currentManifest match {
      case None => Nil
      case Some(m) =>
        // stops at the oldest RETAINED ancestor (expiry may have deleted
        // manifests beyond it)
        Iterator.iterate(Option(m))(_.flatMap(_.parentId).flatMap(manifestOpt))
          .takeWhile(_.isDefined).flatten.toSeq.reverse
    }
  }

  /** A table's state at a snapshot (default: current); None when the
    * snapshot or the table is missing. */
  private def stateAt(table: String,
                      snapshotId: Option[Long]): Option[TableState] =
    snapshotId.orElse(currentSnapshotId).flatMap(manifestOpt)
      .flatMap(_.tables.get(table))

  /** Read a table at a snapshot (default: current). Missing table/snapshot
    * → None (caller supplies the empty-state Dataset).
    */
  def read(spark: SparkSession, table: String,
           snapshotId: Option[Long] = None): Option[DataFrame] =
    scanState(spark, stateAt(table, snapshotId))

  /** Zone-map read: open only the part-files whose recorded footer range on
    * `column` can intersect `[lo, hi]` — Iceberg-style data skipping over
    * the snapshot layer, at zero job cost (pruning is manifest metadata
    * only). The result is the UNFILTERED union of surviving parts (a
    * superset of the matching rows); the caller applies its own predicate,
    * which Spark then also pushes into the remaining footers. Pruning is
    * conservative: a part with no reachable stats (pre-stats manifest,
    * expired ancestor manifest, unsupported column type) is always
    * included. Returns None when NO part can intersect.
    */
  def readBetween(spark: SparkSession, table: String, column: String,
                  lo: Any, hi: Any,
                  snapshotId: Option[Long] = None): Option[DataFrame] = {
    stateAt(table, snapshotId).flatMap { st =>
      val selected: List[String] = st.files.flatMap { dir =>
        // per-partition lineage is per-commit: the stats for this dir's
        // parts live in the manifest of the snapshot that WROTE the dir
        val parts = snapIdOf(dir).flatMap(manifestOpt)
          .flatMap(_.tables.get(table)).map(_.partitions).getOrElse(Nil)
        if (parts.isEmpty) listParquet(dir) // no reachable lineage: keep all
        else parts.collect {
          case pe if mayIntersect(pe.stats.get(column), lo, hi) =>
            s"$dir/${pe.path}"
        }
      }
      if (selected.isEmpty) None else Some(scan(spark, selected, st.schema))
    }
  }

  // staged table dirs: data/snap-<id>[-<attempt tag>]/<table> — the
  // optional tag is the unique-staging suffix (untagged dirs predate it)
  private val SnapDirRe = ".*/data/snap-(\\d+)(?:-[0-9a-f]+)?/[^/]+$".r
  private def snapIdOf(dir: String): Option[Long] = dir match {
    case SnapDirRe(id) => Some(id.toLong)
    case _             => None
  }

  private def listParquet(dir: String): List[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else listDir(p).map(_.toString).filter(_.endsWith(".parquet")).sorted
  }

  /** Can a part whose recorded (min, max) is `cs` hold a value in
    * [lo, hi]? Unknown stats, type mismatch between bound and recorded
    * type, or missing min/max all answer TRUE (include — never drop a
    * part the range might touch). Strings compare in unsigned UTF-8 byte
    * order, matching parquet's binary column order.
    */
  private def mayIntersect(cs: Option[ColStats], lo: Any, hi: Any): Boolean =
    cs match {
      case Some(ColStats(tpe, Some(mn), Some(mx), _)) =>
        // BigDecimal keeps 64-bit longs exact (a double bound would lose
        // precision above 2^53 — wrong prunes on id-like columns)
        def num(a: Any): Option[BigDecimal] = a match {
          case n: java.lang.Number =>
            scala.util.Try(BigDecimal(n.toString)).toOption // NaN/Inf → None
          case _ => None
        }
        tpe match {
          case "long" | "int" | "double" | "float" =>
            (num(lo), num(hi),
             scala.util.Try((BigDecimal(mn), BigDecimal(mx))).toOption) match {
              case (Some(l), Some(h), Some((pmn, pmx))) =>
                !(pmx < l || pmn > h)
              case _ => true
            }
          case "string" =>
            (lo, hi) match {
              case (l: String, h: String) =>
                def bytes(s: String) =
                  s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                !(java.util.Arrays.compareUnsigned(bytes(mx), bytes(l)) < 0 ||
                  java.util.Arrays.compareUnsigned(bytes(mn), bytes(h)) > 0)
              case _ => true
            }
          case _ => true
        }
      case _ => true
    }

  def rowCount(table: String, snapshotId: Option[Long] = None): Long =
    stateAt(table, snapshotId).map(_.rows).getOrElse(0L)

  // ---- commit --------------------------------------------------------------
  //
  // Every snapshot goes through one core of four steps, each defined once:
  //  1. an [[Attempt]] takes the base snapshot and the next id;
  //  2. `Attempt.stage` writes under the attempt's unique tagged dir, in
  //     the order given;
  //  3. [[stateAfter]] turns one staged write into its table's next state
  //     (`Attempt.record` assembles the manifest from those states);
  //  4. [[publish]] puts the manifest in place by compare-and-swap against
  //     the base it was built on.
  // `commit` and `stageCommit` run the core on the caller's thread (Spark
  // job properties are per thread); `commitPipelined` stages its barrier
  // writes on the caller and the rest on its lane; `stageCommit` parks the
  // manifest for `publishStaged`; `rollbackTo` publishes without writes.

  /** Atomically commit one snapshot containing all `writes` plus carried-
    * forward state of untouched tables. Returns the new snapshot id.
    * Joins any pipelined commit still in flight first (one manifest chain,
    * one writer at a time).
    */
  def commit(spark: SparkSession, writes: Seq[TableWrite],
             metrics: => Map[String, Long] = Map.empty,
             note: String = "", par: Int = 1): Long = drained {
    val a = new Attempt(currentSnapshotId)
    a.stage(writes, par)
    publish(a.record(writes, metrics, note))
  }

  /** Step 1: one commit attempt on the snapshot `baseId` (None: empty
    * catalog), taking the next id. It stages under
    * `data/snap-<id>-<tag>/`, unique per attempt: same-base committers
    * never share a dir, so a CAS loser's files can never collide with the
    * winner's (the object-store mapping: stage under unique keys,
    * conditional-put the pointer). Manifests record the full staged paths,
    * so reads never depend on the name; only readBetween's lineage lookup
    * parses the id back out (SnapDirRe tolerates the tag). A loser's dirs
    * are referenced by no manifest and await [[removeOrphans]] or
    * [[expireSnapshots]].
    */
  private final class Attempt(val baseId: Option[Long]) {
    Files.createDirectories(metaDir)
    val id: Long = baseId.fold(1L)(_ + 1)
    // full 64-bit tag: a 32-bit one leaves a ~2^-32 per-race chance of two
    // same-base attempts recreating the very collision this removes
    val tag: String = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    def dir(table: String): String = s"$root/data/snap-$id-$tag/$table"

    /** The base manifest, read on first use: a pipelined attempt reads it
      * on its lane, once the commit it was built on has published. */
    lazy val base: Option[Manifest] = baseId.map(manifest)
    def baseTables: Map[String, TableState] =
      base.fold(Map.empty[String, TableState])(_.tables)

    /** Step 2: write the staged parquet dirs of `ws`, in the order given.
      *
      * Writes run SERIALLY on the caller's thread by default: each write is
      * one Spark job that already parallelizes across the cluster, and
      * measurement showed concurrent submission in a shared executor is an
      * anti-optimization — two heavy jobs racing for the same task slots +
      * cache blocks ran the same round 4-5× slower at 32 local cores (140 s
      * vs 26 s round-1 wall; see BENCH.md round 2). The list order is the
      * caller's dependency order: a write that materializes a cache comes
      * before the writes that read it. A caller whose writes share no
      * uncached chain (the post-pass's two independent rewrites) passes
      * `par` > 1 to run them concurrently on a pool of that size.
      */
    def stage(ws: Seq[TableWrite], par: Int = 1): Unit = {
      def write(w: TableWrite): Unit =
        w.df.write.mode("overwrite").parquet(dir(w.table))
      if (par <= 1) ws.foreach(write)
      else onPool(math.min(par, ws.size)) { pool =>
        pool.invokeAll(ws.map(w => callable(write(w))).asJava)
          .asScala.foreach(_.get())
      }
    }

    /** The manifest that records `writes`, staged by this attempt, over
      * the base: each written table at its [[stateAfter]], every other
      * table carried forward. */
    def record(writes: Seq[TableWrite], metrics: => Map[String, Long],
               note: String): Manifest =
      manifestOver(writes.map { w =>
        w.table -> stateAfter(base.flatMap(_.tables.get(w.table)), w,
                              dir(w.table), lineage(dir(w.table)))
      }.toMap, metrics, note)

    def manifestOver(written: Map[String, TableState],
                     metrics: Map[String, Long], note: String): Manifest =
      Manifest(id, baseId, (baseTables -- written.keySet) ++ written,
               metrics, note)
  }

  /** A staged dir's footer lineage, sorted by part name: each part's bytes,
    * row count and zone-map stats — driver-local metadata reads, NO Spark
    * job. The parts' row counts are the only source of a table's rows.
    */
  private def lineage(dir: String): List[FileEntry] = {
    val paths = listDir(Paths.get(dir))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    // footer reads are independent local metadata reads — run them on a
    // small pool (serially they add ~10 ms × parts × tables to every
    // round's commit floor)
    onPool(math.min(8, paths.size)) { pool =>
      pool.invokeAll(paths.map(p => callable {
        val (rows, stats) = footerInfo(p)
        FileEntry(p.getFileName.toString, Files.size(p), rows, stats)
      }).asJava).asScala.map(_.get()).toList
    }.sortBy(_.path)
  }

  /** Step 3: the state a table reaches when `w`, staged in `dir` with
    * lineage `parts`, lands on its `prior` state: an Append extends the
    * prior file list and row count (by the sum of the parts' rows), a
    * Replace starts over. The schema follows the [[Glacier.TableState]]
    * rule: `w`'s frame schema over no prior dirs or over a byte-equal
    * recorded one, else none. */
  private def stateAfter(prior: Option[TableState], w: TableWrite,
                         dir: String, parts: List[FileEntry]): TableState = {
    val kept = w.mode match {
      case Append  => prior
      case Replace => None
    }
    val files = kept.fold(List.empty[String])(_.files)
    val written = w.df.schema.json
    val schema =
      if (files.isEmpty || kept.flatMap(_.schema).contains(written)) Some(written)
      else None
    TableState(files :+ dir, kept.fold(0L)(_.rows) + parts.map(_.rows).sum,
               parts, schema)
  }

  /** The commit-critical-section guard: JVM-wide per-root monitor nested
    * inside an OS file lock on `meta/COMMIT_LOCK` — covers same-process
    * AND cross-process committers. Every CURRENT and ref mutation goes
    * through here. */
  private def withCommitLock[T](f: => T): T = synchronized {
    Glacier.rootLock(root).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        metaDir.resolve("COMMIT_LOCK"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val osLock = ch.lock()
        try f
        finally osLock.release()
      } finally ch.close()
    }
  }

  /** Step 4, the atomic commit point: a COMPARE-AND-SWAP on the base id.
    * Under the commit lock, verify CURRENT still names the snapshot `m` was
    * built on, put `m` in place as `snap-<id>.json` (moved from `staged`
    * when given, else written), then swap CURRENT (tmp-write +
    * ATOMIC_MOVE). A committer that lost the race — sync, pipelined or
    * staged alike — gets a retryable [[Glacier.CommitConflictException]]
    * and publishes NOTHING, so two drivers on one root never fork history
    * with last-writer-wins. Returns the published id.
    */
  private def publish(m: Manifest, staged: Option[Path] = None): Long =
    withCommitLock {
      val cur = currentSnapshotId
      if (cur != m.parentId)
        throw new Glacier.CommitConflictException(
          s"CURRENT moved to $cur while committing snap-${m.snapshotId} on " +
            s"parent ${m.parentId}; re-read and retry")
      val target = metaDir.resolve(s"snap-${m.snapshotId}.json")
      staged match {
        case Some(p) => Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
        case None    => Files.writeString(target, Serialization.writePretty(m))
      }
      val tmp = metaDir.resolve(s"CURRENT.tmp-${m.snapshotId}")
      Files.writeString(tmp, m.snapshotId.toString)
      Files.move(tmp, metaDir.resolve("CURRENT"),
                 StandardCopyOption.ATOMIC_MOVE,
                 StandardCopyOption.REPLACE_EXISTING)
      m.snapshotId
    }

  // ---- pipelined commit ----------------------------------------------------

  // One background lane per Glacier root: FIFO submission serializes the
  // manifest chain (commit N's background phase always finishes before
  // commit N+1's starts), so "one writer at a time" holds without locks
  // around the Spark writes themselves.
  private lazy val pipelinePool = java.util.concurrent.Executors
    .newSingleThreadExecutor { r =>
      val t = new Thread(r, s"glacier-commit-$root")
      t.setDaemon(true)
      t
    }
  @volatile private var headPending: Option[PendingCommit] = None

  /** The pipelined commit the next commit must follow, if any. A settled
    * head (published, or a lost CAS already thrown once) holds nothing the
    * current manifest lacks; a failed write stays and poisons the chain. */
  private def head: Option[PendingCommit] = headPending.filterNot(_.settled)

  /** Join the in-flight pipelined commit, if any, rethrowing its failure.
    * MUST be called (and is) outside `synchronized` — the background phase
    * takes the same lock to publish. */
  def drainPending(): Unit = head.foreach(_.await())

  /** Run `f` under the instance lock once the pipelined commit in flight,
    * if any, has finished (see [[drainPending]]). */
  private def drained[T](f: => T): T = {
    drainPending()
    synchronized(f)
  }

  /** Two-phase pipelined commit — the cross-snapshot overlap lever for a
    * BSP loop: round N's bulk output writes are dead time the next round's
    * drain+fetch can hide behind.
    *
    * Phase A (caller thread, returns when done): writes marked `barrier` —
    * the tables the NEXT round must read (frontier/seen/bloom) — staged
    * serially in the order given. Phase B (single background lane): the
    * remaining writes in the order given, footer lineage, manifest, CAS
    * publish, then `onComplete` (cache release). The handle's `read`
    * serves barrier tables from their staged dirs plus carried ancestor
    * state, so the next round can start BEFORE this snapshot flips.
    *
    * Invariants kept from the serial design: writes of ONE snapshot never
    * race each other (phase A serial, then phase B serial — the round-2
    * same-chain race stays impossible); the manifest chain is strictly
    * serial (single lane, FIFO), and each publish is a CAS against the
    * snapshot the commit was built on, so a commit that another handle
    * overtook fails with a [[Glacier.CommitConflictException]], and so
    * does every pipelined commit queued on it (their bases were never
    * published). A kill at any point leaves CURRENT on the last
    * fully-flipped snapshot and only orphan staged dirs. A failed write
    * poisons the chain: later pipelined commits and any sync commit
    * rethrow it instead of forking history. A lost CAS published nothing:
    * once its conflict has been thrown, the next commit builds on the new
    * CURRENT.
    */
  def commitPipelined(spark: SparkSession, writes: Seq[TableWrite],
                      metrics: => Map[String, Long] = Map.empty,
                      note: String = "",
                      onComplete: () => Unit = () => ()): PendingCommit = {
    val (a, prevHandle, view) = synchronized {
      val prev = head // a failed one poisons the chain below
      val a = new Attempt(prev.map(_.snapshotId).orElse(currentSnapshotId))
      (a, prev, prev.fold(a.baseTables)(_.readableTables))
    }
    prevHandle.filter(_.failed).foreach(_.await()) // rethrow, fail fast
    val (front, back) = writes.partition(_.barrier)
    a.stage(front) // phase A: durable before the handle returns
    // tables with a write still to come have no readable dirs yet; the
    // view's rows and lineage are not read here (the lane records them)
    val readable = front.foldLeft(view -- back.map(_.table)) { (acc, w) =>
      acc + (w.table ->
        stateAfter(acc.get(w.table), w, a.dir(w.table), Nil))
    }
    val fut = new java.util.concurrent.CompletableFuture[Long]()
    val handle = new PendingCommit(a.id, readable, fut)
    synchronized { headPending = Some(handle) }
    pipelinePool.submit(new Runnable {
      def run(): Unit =
        try {
          prevHandle.foreach(_.await()) // FIFO ⇒ instant unless it failed
          a.stage(back)
          publish(a.record(writes, metrics, note))
          onComplete()
          fut.complete(a.id)
        } catch {
          case t: Throwable => fut.completeExceptionally(t)
        }
    })
    handle
  }

  // ---- maintenance ---------------------------------------------------------

  /** Rewrite a table's current contents into ONE fresh directory with a
    * bounded part-file count, committed as a Replace snapshot (rows
    * unchanged up to `transformFn` — e.g. folding bloom delta rows per
    * shard). An append-only table accretes one directory per commit and its
    * manifests re-list every historical dir; a long crawl (thousands of
    * rounds) pays that listing on every read. Compaction folds the list
    * back to one entry; older snapshots still time-travel to the
    * pre-compaction dirs until expired.
    */
  def compact(spark: SparkSession, table: String, parts: Int = 8,
              transformFn: DataFrame => DataFrame = identity): Option[Long] =
    read(spark, table).map { df =>
      commit(spark,
        Seq(TableWrite(table, transformFn(df).coalesce(parts), Replace)),
        note = s"compact $table")
    }

  /** Z-order clustering compaction: rewrite `table` with rows range-
    * partitioned and sorted by the Morton interleaving of the named numeric
    * columns, so each output part covers a small HYPER-RECTANGLE of the
    * clustering space and the per-part zone maps (footer min/max recorded
    * in the manifest) prune [[readBetween]] reads on ANY clustered column —
    * a lexicographic sort only ever serves its leading key. This is the
    * multi-dimensional data-skipping layout (Iceberg/Delta `ZORDER BY`) a
    * 100 TB corpus wants for tables probed by more than one predicate
    * (host AND fetch-time on a crawl log; doc_id AND quality on a corpus).
    *
    * Columns are linearly bucketed into `bitsPerCol` bits via one tiny
    * min/max agg (a 1-row driver job — compaction is a maintenance op);
    * the interleave itself is a pure column expression (shifts/masks,
    * whole-stage codegen'd, no UDF). Nulls order first (bucket 0).
    */
  def compactZOrdered(spark: SparkSession, table: String, cols: Seq[String],
                      parts: Int = 8, bitsPerCol: Int = 16): Option[Long] = {
    import org.apache.spark.sql.functions.{col, min, max}
    require(cols.nonEmpty && cols.size * bitsPerCol <= 63,
      s"zorder: need 1..${63 / bitsPerCol} columns at $bitsPerCol bits")
    read(spark, table).map { df =>
      val aggs = cols.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val bucketed = cols.zipWithIndex.map { case (c, i) =>
        val mn = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
        val mx = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
        zBucket(col(c), mn, mx, bitsPerCol)
      }
      val clustered = df
        .withColumn("__z", mortonKey(bucketed, bitsPerCol))
        .repartitionByRange(parts, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
      commit(spark, Seq(TableWrite(table, clustered, Replace)),
        note = s"zorder $table on ${cols.mkString(",")}")
    }
  }

  /** MERGE INTO (copy-on-write upsert) for a keyed table: `updates` rows
    * overwrite same-key rows of the current snapshot, new keys insert,
    * untouched rows carry forward — ONE keyed left-anti join + unionByName,
    * committed as a Replace so the pre-merge state stays time-travelable
    * (the audit trail `q_table_diff` reads). This is Iceberg's COW MERGE;
    * at 100 TB both sides live bucketed by the key so the anti-join is
    * co-located, and a merge-on-read variant would instead commit the
    * updates as a delta table folded at read time (the SeenSet
    * delta-fold pattern). Missing table → the merge IS the initial load.
    */
  def mergeInto(spark: SparkSession, table: String, updates: DataFrame,
                key: String): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    // a MERGE source with duplicate keys is ambiguous (which row wins?) —
    // refuse like Iceberg/Delta do rather than silently writing duplicate
    // rows into a keyed table; one small key-grouped job on a maintenance op
    val dup = updates.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).count()
    require(dup == 0L,
      s"mergeInto: updates contain duplicate values of key '$key'")
    read(spark, table) match {
      case None =>
        commit(spark, Seq(TableWrite(table, updates, Replace)),
          note = s"merge-init $table on $key")
      case Some(cur) =>
        val kept = cur.join(updates.select(col(key)), Seq(key), "left_anti")
        commit(spark,
          Seq(TableWrite(table, kept.unionByName(updates), Replace)),
          note = s"merge $table on $key")
    }
  }

  // ---- Bloom point-lookup index ---------------------------------------------

  /** Build a per-part Bloom index for `column` at the current snapshot: ONE
    * column-pruned scan groups rows by their part file (input_file_name)
    * and folds each part's values into a fixed-size bit set (k md5-derived
    * positions per value — the engine's portable-hash idiom), persisted as
    * a sidecar `meta/bloom-<snap>.<table>.<column>.json`. Zone maps
    * ([[readBetween]]) skip by RANGE; this index skips by MEMBERSHIP — the
    * layout a resumable crawl wants for "which part may hold this URL"
    * against a high-cardinality key whose min/max spans everything. At
    * 100 TB this sidecar is Iceberg's bloom-filter content metadata; the
    * index is bounded by parts × bits regardless of row count.
    * Returns the number of indexed parts (0 = table missing/empty).
    */
  def buildBloomIndex(spark: SparkSession, table: String, colName: String,
                      bits: Int = 4096, hashes: Int = 4): Int = {
    import org.apache.spark.sql.functions._
    val snap = currentSnapshotId.getOrElse(return 0)
    read(spark, table, Some(snap)) match {
      case None => 0
      case Some(df) =>
        val target = org.apache.spark.sql.functions.col(colName)
        val positions = (0 until hashes).map(i =>
          pmod(conv(substring(md5(concat(lit(s"$i:"),
            target.cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(bits.toLong)).cast("int"))
        val perFile = df
          .select(input_file_name().as("__file"),
            explode(array(positions: _*)).as("__pos"))
          .groupBy("__file")
          .agg(collect_set(org.apache.spark.sql.functions.col("__pos"))
            .as("__set"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[Int](1).sorted.toList)
          .toMap
        val json = JObject(
          "snapshot" -> JInt(snap), "table" -> JString(table),
          "column" -> JString(colName), "bits" -> JInt(bits),
          "hashes" -> JInt(hashes),
          "parts" -> JObject(perFile.toList.map { case (f, ps) =>
            f -> JArray(ps.map(p => JInt(BigInt(p)))) }))
        val p = metaDir.resolve(s"bloom-$snap.$table.$colName.json")
        Files.writeString(p, JsonMethods.compact(JsonMethods.render(json)))
        perFile.size
    }
  }

  /** Point-lookup read through the Bloom index: open only the parts whose
    * bit set claims `value` (all k positions present). None = NO part can
    * contain it (definite absence at zero I/O — false positives open a
    * part needlessly, false negatives cannot happen). Falls back to the
    * full [[read]] when no index exists for the current snapshot/column.
    */
  def readPoint(spark: SparkSession, table: String, colName: String,
                value: String): Option[DataFrame] = {
    val snap = currentSnapshotId.getOrElse(return None)
    val p = metaDir.resolve(s"bloom-$snap.$table.$colName.json")
    if (!Files.exists(p)) return read(spark, table, Some(snap))
    val j = JsonMethods.parse(Files.readString(p))
    val bits = (j \ "bits").asInstanceOf[JInt].num.toInt
    val hashes = (j \ "hashes").asInstanceOf[JInt].num.toInt
    val want = Glacier.bloomPositions(value, bits, hashes)
    val parts = (j \ "parts").asInstanceOf[JObject].obj.collect {
      case (file, JArray(ps))
          if want.forall(w => ps.exists {
            case JInt(b) => b.toInt == w
            case _       => false
          }) => file
    }
    if (parts.isEmpty) None
    else Some(scan(spark, parts, stateAt(table, Some(snap)).flatMap(_.schema)))
  }

  /** Delete all snapshots except the most recent `keepLast`: expired
    * manifest files are removed, then every `data/snap-*` directory not
    * referenced by a retained manifest is deleted. Time travel to retained
    * snapshots is untouched (their manifests may reference old data dirs —
    * those are kept). Returns the expired snapshot ids.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = drained {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val retained =
      (history.map(_.snapshotId).takeRight(keepLast) ++ refs.values).toSet
    val expired = snapshotIds.filterNot(retained)
    expired.foreach(id => Files.deleteIfExists(metaDir.resolve(s"snap-$id.json")))
    sweep(retained, cutoffMs = Long.MaxValue)
    expired
  }

  /** Roll the catalog back to `snapshotId` as a NEW commit (Iceberg's
    * rollback-to-snapshot): a metadata-only manifest whose table states are
    * exactly the target's — no data is copied or deleted, the bad
    * snapshots stay on the history chain (time-travelable, auditable by
    * `q_table_diff`) until `expireSnapshots` retires them. Tables created
    * AFTER the target are tombstoned (empty file list → `read` returns
    * None), so reads at the new head see precisely the target's world.
    * Goes through the same CAS publish as every commit — a racing committer
    * loses with a retryable conflict, never a forked chain.
    */
  def rollbackTo(snapshotId: Long): Long = drained {
    val target = manifestOpt(snapshotId).getOrElse(throw
      new IllegalArgumentException(s"snapshot $snapshotId unknown or expired"))
    val a = new Attempt(currentSnapshotId)
    val tombstones = a.baseTables.keySet.diff(target.tables.keySet)
      .map(_ -> TableState(Nil, 0L, Nil)).toMap
    publish(a.manifestOver(target.tables ++ tombstones,
      Map("rollback_to" -> snapshotId), s"rollback to snap-$snapshotId"))
  }

  /** Delete staged data dirs referenced by NO manifest on disk — CAS
    * losers' unique-tag staging leftovers and crash debris.
    * `expireSnapshots` only sweeps when history shrinks; this sweeps
    * orphans without touching a single retained snapshot. A dir modified
    * less than `graceMs` ago is kept: it may belong to a commit attempt
    * still staging in another process whose manifest isn't published yet
    * (the object-store GC grace-window rule). Returns the deleted dirs.
    */
  def removeOrphans(graceMs: Long = 3600000L): Seq[String] = drained {
    sweep(snapshotIds, cutoffMs = System.currentTimeMillis() - graceMs)
  }

  /** The ids of the snapshot manifests on disk, ascending. */
  private def snapshotIds: List[Long] =
    if (!Files.isDirectory(metaDir)) Nil
    else listDir(metaDir).map(_.getFileName.toString)
      .collect { case SnapJsonRe(id) => id.toLong }.sorted

  /** The one data sweep: delete every staged table dir that neither a
    * manifest of `keep` nor a staged (unpublished) manifest references and
    * that was last modified at or before `cutoffMs`, then every snap dir
    * left empty. Returns the deleted table dirs, sorted. */
  private def sweep(keep: Iterable[Long], cutoffMs: Long): Seq[String] = {
    val dataRoot = Paths.get(root, "data")
    if (!Files.isDirectory(dataRoot)) return Nil
    val referenced = keep.flatMap(manifestOpt)
      .flatMap(_.tables.values.flatMap(_.files)).toSet ++ stagedReferencedDirs
    val snapDirs = listDir(dataRoot)
    val deleted = snapDirs.flatMap(listDir).filter(t =>
      !referenced.contains(t.toString) &&
        Files.getLastModifiedTime(t).toMillis <= cutoffMs)
    deleted.foreach(deleteRecursively)
    snapDirs.filter(listDir(_).isEmpty).foreach(Files.deleteIfExists)
    deleted.map(_.toString).sorted
  }

  /** Incremental consumption of an Append-mode table: the rows committed
    * strictly after `fromId`, up to and including `toId` — the
    * streaming-table / incremental-ETL read (Iceberg's incremental scan).
    * Append lineage means `to`'s file list extends `from`'s, so the delta
    * is a manifest-only LIST difference: the read plans exactly the new
    * dirs, no data-diff job, no full-table scan, at any table size. A
    * non-prefix lineage (Replace rewrites, rollbacks) raises — keyed CDC
    * over rewritten state is `q_table_diff`'s full-outer join, not a file
    * diff. None when nothing was appended.
    */
  def readChanges(spark: SparkSession, table: String,
                  fromId: Long, toId: Long): Option[DataFrame] = {
    require(fromId <= toId, s"fromId $fromId > toId $toId")
    def state(id: Long) = manifestOpt(id).getOrElse(throw
        new IllegalArgumentException(s"snapshot $id unknown or expired"))
      .tables.get(table)
    val from = state(fromId).map(_.files).getOrElse(Nil)
    val toState = state(toId)
    val to = toState.map(_.files).getOrElse(Nil)
    require(to.startsWith(from),
      s"$table: snap-$fromId's file list is not a prefix of snap-$toId's " +
        "(Replace/rollback lineage) — use a keyed diff (q_table_diff) instead")
    val delta = to.drop(from.size)
    // `to`'s schema covers every dir of its list, the delta's included
    if (delta.isEmpty) None
    else Some(scan(spark, delta, toState.flatMap(_.schema)))
  }

  // ---- named refs (tags) ----------------------------------------------------

  /** Create or move a named ref (Iceberg-style tag/branch head) pointing
    * at `snapshotId` (default: the current head). Ref'd snapshots survive
    * [[expireSnapshots]] — manifest AND data dirs are retained even when
    * they fall off the keepLast window or (after a rollback) off the
    * current lineage entirely — so "release" tags keep old corpus versions
    * readable while unreferenced history is swept. Ref mutations take the
    * same commit lock as CURRENT (cross-process safe) and land via
    * tmp + ATOMIC_MOVE. */
  def setRef(name: String, snapshotId: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid ref name '$name'")
    withCommitLock {
      val id = snapshotId.orElse(currentSnapshotId).getOrElse(
        throw new IllegalArgumentException("empty catalog: nothing to tag"))
      require(manifestOpt(id).isDefined,
        s"snap-$id does not exist (never committed, or already expired)")
      val tmp = metaDir.resolve(s"ref-$name.tmp")
      Files.writeString(tmp, id.toString)
      Files.move(tmp, metaDir.resolve(s"ref-$name"),
                 StandardCopyOption.ATOMIC_MOVE,
                 StandardCopyOption.REPLACE_EXISTING)
      id
    }
  }

  /** The snapshot a ref points at, if the ref exists. */
  def refSnapshot(name: String): Option[Long] = {
    val p = metaDir.resolve(s"ref-$name")
    if (Files.exists(p)) scala.util.Try(Files.readString(p).trim.toLong).toOption
    else None
  }

  /** All refs (name → snapshot id). */
  def refs: Map[String, Long] = {
    if (!Files.isDirectory(metaDir)) return Map.empty
    listDir(metaDir).map(_.getFileName.toString)
      .filter(n => n.startsWith("ref-") && !n.endsWith(".tmp"))
      .flatMap(n => refSnapshot(n.stripPrefix("ref-"))
        .map(n.stripPrefix("ref-") -> _))
      .toMap
  }

  /** Drop a ref; its snapshot becomes expirable again (if otherwise
    * unretained). */
  def dropRef(name: String): Unit = withCommitLock {
    Files.deleteIfExists(metaDir.resolve(s"ref-$name"))
  }

  /** Read a table as of a named ref — `read(...)` at the ref's pinned
    * snapshot. */
  def readRef(spark: SparkSession, table: String,
              ref: String): Option[DataFrame] =
    refSnapshot(ref).flatMap(id => read(spark, table, Some(id)))

  // ---- write-audit-publish (WAP) -------------------------------------------

  /** Stage a complete commit — data dirs AND manifest — WITHOUT advancing
    * CURRENT (Iceberg's write-audit-publish): readers keep seeing the old
    * snapshot while validation queries audit the staged state via
    * [[readStaged]]; [[publishStaged]] then makes it current with the same
    * CAS rule as every commit, or [[abortStaged]] discards it. The staged
    * manifest lives at `meta/staged-<id>-<tag>.json` (never `snap-`), so a
    * commit that lands during the audit can take the id without colliding
    * — the stale staged attempt just loses its publish CAS.
    */
  def stageCommit(spark: SparkSession, writes: Seq[TableWrite],
                  metrics: => Map[String, Long] = Map.empty,
                  note: String = ""): StagedCommit = drained {
    val a = new Attempt(currentSnapshotId)
    a.stage(writes)
    val m = a.record(writes, metrics, note)
    val sc = StagedCommit(a.id, a.baseId, a.tag)
    Files.writeString(stagedManifestPath(sc), Serialization.writePretty(m))
    sc
  }

  private def stagedManifestPath(sc: StagedCommit): Path =
    metaDir.resolve(s"staged-${sc.snapshotId}-${sc.tag}.json")

  private def stagedManifest(sc: StagedCommit): Manifest = {
    val p = stagedManifestPath(sc)
    require(Files.exists(p), s"staged commit ${sc.snapshotId}-${sc.tag} " +
      "does not exist (published, aborted, or never staged here)")
    readManifest(p)
  }

  /** Audit read of a staged commit's table (the WAP validation step). */
  def readStaged(spark: SparkSession, sc: StagedCommit,
                 table: String): Option[DataFrame] =
    scanState(spark, stagedManifest(sc).tables.get(table))

  /** Publish a staged commit: CAS on the parent (CURRENT must not have
    * moved during the audit), promote the staged manifest to `snap-<id>`,
    * swap CURRENT. A loser gets the retryable
    * [[Glacier.CommitConflictException]] and should re-stage on the new
    * head; its data dirs await [[removeOrphans]]. */
  def publishStaged(sc: StagedCommit): Long = drained {
    publish(stagedManifest(sc), Some(stagedManifestPath(sc)))
  }

  /** Discard a staged commit: delete its manifest and the data dirs IT
    * wrote (carried parent dirs are untouched — they belong to published
    * history). */
  def abortStaged(sc: StagedCommit): Unit = synchronized {
    val m = stagedManifest(sc)
    Files.deleteIfExists(stagedManifestPath(sc))
    m.tables.values.flatMap(_.files)
      .filter(d => snapIdOf(d).contains(sc.snapshotId) &&
        d.contains(s"-${sc.tag}/"))
      .map(d => Paths.get(d).getParent).toSet[Path]
      .foreach(deleteRecursively)
  }

  /** Data dirs referenced by staged (unpublished) manifests — protected
    * from [[removeOrphans]] and [[expireSnapshots]] sweeps while the audit
    * is in flight. */
  private def stagedReferencedDirs: Set[String] = {
    if (!Files.isDirectory(metaDir)) return Set.empty
    listDir(metaDir).map(_.getFileName.toString)
      .filter(n => n.startsWith("staged-") && n.endsWith(".json"))
      .flatMap(n => scala.util.Try(readManifest(metaDir.resolve(n))).toOption
        .toSeq.flatMap(_.tables.values.flatMap(_.files)))
      .toSet
  }

  /** Row count + per-column zone-map stats of one part-file from its
    * parquet FOOTER — a local metadata read (tail of the file), not a data
    * scan; completes per-part lineage (bytes + rows + min/max/nulls) at
    * zero job cost even at 10^4-round manifest scale. Stats cover TOP-LEVEL
    * primitive columns only (long/int/double/float/boolean/string); nested
    * and unsupported types are skipped, which `readBetween` treats as
    * "unknown → include". Min/max aggregate across row groups; a column
    * whose chunk carries no usable statistics is dropped entirely
    * (conservative).
    */
  private def footerInfo(p: Path): (Long, Map[String, ColStats]) =
    scala.util.Using.resource(
      org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri),
          new org.apache.hadoop.conf.Configuration()))) { r =>
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val schema = r.getFooter.getFileMetaData.getSchema
      val tpeOf: Map[String, String] = schema.getFields.asScala.collect {
        case f if f.isPrimitive =>
          val pt = f.asPrimitiveType()
          val t = pt.getPrimitiveTypeName match {
            case INT64   => "long"
            case INT32   => "int"
            case DOUBLE  => "double"
            case FLOAT   => "float"
            case BOOLEAN => "boolean"
            case BINARY
                if pt.getLogicalTypeAnnotation.isInstanceOf[
                  LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              "string"
            case _ => ""
          }
          f.getName -> t
      }.filter(_._2.nonEmpty).toMap

      // accumulate (min, max, nulls) per column across row groups; any
      // chunk with unusable stats poisons the column (conservative)
      final case class Acc(min: Any, max: Any, nulls: Long)
      val acc = scala.collection.mutable.Map.empty[String, Option[Acc]]
      def lt(tpe: String, a: Any, b: Any): Boolean = tpe match {
        case "string" =>
          java.util.Arrays.compareUnsigned(
            a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]) < 0
        case "boolean" => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
        // integral columns compare exactly: a doubleValue() comparison
        // collapses longs above 2^53 and a wrong recorded min/max makes
        // readBetween prune a part that holds matching rows
        case "long" | "int" =>
          a.asInstanceOf[java.lang.Number].longValue() <
            b.asInstanceOf[java.lang.Number].longValue()
        case _ =>
          a.asInstanceOf[java.lang.Number].doubleValue() <
            b.asInstanceOf[java.lang.Number].doubleValue()
      }
      r.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          val path = cc.getPath.toArray
          if (path.length == 1 && tpeOf.contains(path(0))) {
            val name = path(0)
            val tpe = tpeOf(name)
            val st = cc.getStatistics
            val usable = st != null && !st.isEmpty && st.isNumNullsSet &&
              (st.hasNonNullValue || st.getNumNulls == cc.getValueCount)
            if (!usable) acc(name) = None
            else if (!acc.contains(name) || acc(name).isDefined) {
              val (mn, mx): (Any, Any) =
                if (!st.hasNonNullValue) (null, null)
                else tpe match {
                  case "string" =>
                    (st.genericGetMin.asInstanceOf[
                       org.apache.parquet.io.api.Binary].getBytes,
                     st.genericGetMax.asInstanceOf[
                       org.apache.parquet.io.api.Binary].getBytes)
                  case _ => (st.genericGetMin, st.genericGetMax)
                }
              val next = acc.get(name).flatten match {
                case None => Acc(mn, mx, st.getNumNulls)
                case Some(prev) =>
                  val nmn =
                    if (prev.min == null) mn
                    else if (mn == null || lt(tpe, prev.min, mn)) prev.min
                    else mn
                  val nmx =
                    if (prev.max == null) mx
                    else if (mx == null || lt(tpe, mx, prev.max)) prev.max
                    else mx
                  Acc(nmn, nmx, prev.nulls + st.getNumNulls)
              }
              acc(name) = Some(next)
            }
          }
        }
      }
      def render(tpe: String, v: Any): Option[String] = Option(v).map {
        case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
        case other          => other.toString
      }
      val stats = acc.toMap.collect { case (name, Some(a)) =>
        val tpe = tpeOf(name)
        name -> ColStats(tpe, render(tpe, a.min), render(tpe, a.max), a.nulls)
      }
      (r.getRecordCount, stats)
    }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object Glacier {
  /** The commit lost the CURRENT compare-and-swap to another committer on
    * the same root: nothing was published. Retryable — re-invoke the
    * commit; it re-reads the new current snapshot as its parent. */
  final class CommitConflictException(msg: String)
      extends RuntimeException(msg)

  // JVM-wide per-root monitor: OS file locks are per-process (a second
  // lock() from the same JVM throws OverlappingFileLockException instead
  // of waiting), so same-process committers on one root serialize here
  // first, then take the cross-process file lock.
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[tables] def rootLock(root: String): Object =
    rootLocks.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)

  /** Driver-side twin of the executor-side md5 bloom positions (the
    * conv(substring(md5("i:" || v), 1, 8), 16, 10) % bits idiom) — MUST
    * stay in lockstep with [[Glacier.buildBloomIndex]]'s column form. */
  private[tables] def bloomPositions(value: String, bits: Int,
                                     hashes: Int): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until hashes).map { i =>
      md.reset()
      val d = md.digest(s"$i:$value".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % bits).toInt
    }
  }

  /** Order-preserving linear bucket of a numeric column into [0, 2^bits):
    * nulls and NaNs land in bucket 0, values are clamped to the recorded
    * [mn, mx] range. Pure column arithmetic (codegen'd). */
  private[tables] def zBucket(c: org.apache.spark.sql.Column,
                              mn: Double, mx: Double, bits: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, greatest, least, lit}
    val top = (1L << bits) - 1
    val span = if (mx > mn) mx - mn else 1.0
    val scaled = (c.cast("double") - lit(mn)) / lit(span) * lit(top.toDouble)
    least(greatest(coalesce(scaled.cast("long"), lit(0L)), lit(0L)), lit(top))
  }

  /** Morton interleave of already-bucketed columns: bit b of column i maps
    * to output bit b·ncols + i (disjoint bits, so the sum IS the OR). */
  private[tables] def mortonKey(bucketed: Seq[org.apache.spark.sql.Column],
                                bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val n = bucketed.size
    val terms = for {
      b <- 0 until bits
      (c, i) <- bucketed.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce[org.apache.spark.sql.Column](_ + _)
  }

  /** Per-column zone-map entry recorded from the parquet footer at commit
    * time: physical-ish type tag ("long"/"int"/"double"/"float"/"boolean"/
    * "string"), min/max rendered as strings (None when the part is
    * all-null), and the null count. */
  final case class ColStats(tpe: String, min: Option[String],
                            max: Option[String], nulls: Long)

  /** One parquet part-file: lineage unit (name, bytes, rows, zone-map
    * stats). `rows`/`stats` default so manifests written before each field
    * landed still deserialize. */
  final case class FileEntry(path: String, bytes: Long, rows: Long = -1L,
                             stats: Map[String, ColStats] = Map.empty)

  /** A table at one snapshot. `schema` (a StructType's JSON) is set only
    * when EVERY dir of `files` was written with exactly that schema: a
    * Replace records its frame's; an Append keeps it only over no prior
    * dirs or over a byte-equal recorded one. A table whose dirs differ
    * (e.g. a sketch state from before a column was added) and manifests
    * written before the field existed carry None and read by inference. */
  final case class TableState(files: List[String], rows: Long,
                              partitions: List[FileEntry],
                              schema: Option[String] = None)

  private def listDir(p: Path): List[Path] =
    scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toList)

  private def callable[T](body: => T): java.util.concurrent.Callable[T] =
    () => body

  /** Run `f` on a fixed pool of `n` threads (at least one), shut down
    * after. */
  private def onPool[T](n: Int)(
      f: java.util.concurrent.ExecutorService => T): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, n))
    try f(pool)
    finally pool.shutdown()
  }

  /** Every Glacier read goes through here. A recorded schema spares Spark
    * its inference (a one-task job plus a footer read on each call); the
    * reader makes every field nullable either way, so the relation is the
    * one inference would give. No schema: infer, as a bare parquet read. */
  private def scan(spark: SparkSession, files: Seq[String],
                   schema: Option[String]): DataFrame =
    schema.fold(spark.read)(s =>
      spark.read.schema(DataType.fromJson(s).asInstanceOf[StructType]))
      .parquet(files: _*)

  /** A table state's frame; None for a missing or tombstoned table. */
  private def scanState(spark: SparkSession,
                        st: Option[TableState]): Option[DataFrame] =
    st.filter(_.files.nonEmpty).map(st => scan(spark, st.files, st.schema))

  /** Handle to a staged (write-audit-publish) commit: the would-be
    * snapshot id, the parent it was built on (the publish CAS check), and
    * the unique staging tag. */
  final case class StagedCommit(snapshotId: Long, parentId: Option[Long],
                                tag: String)
  final case class Manifest(
      snapshotId: Long,
      parentId: Option[Long],
      tables: Map[String, TableState],
      metrics: Map[String, Long],
      note: String,
  )

  sealed trait Mode
  case object Append extends Mode
  case object Replace extends Mode
  /** One table of a commit: what to write and how it lands. A commit runs
    * its writes in the order given, so a write that materializes a cache
    * goes before the writes that read it; the table's row count comes from
    * the written parts' footers. `barrier`: under
    * [[Glacier.commitPipelined]], barrier writes complete on the caller
    * thread before the handle returns (the tables the next round must
    * read); non-barrier writes continue in the background.
    */
  final case class TableWrite(table: String, df: DataFrame, mode: Mode,
                              barrier: Boolean = false)

  /** Handle to a pipelined commit in flight (see
    * [[Glacier.commitPipelined]]). `read` serves the tables whose bytes are
    * already durable — the barrier writes of this commit (staged dirs) plus
    * state carried from fully-written ancestors; a table touched by a
    * still-running background write is NOT readable (its dirs don't exist
    * yet) and returns None. `await` joins the background phase and returns
    * the committed snapshot id, rethrowing its failure. `readableTables`
    * holds file lists and schemas only: the rows and lineage of this
    * commit's writes are read into its manifest on the lane.
    */
  final class PendingCommit private[tables] (
      val snapshotId: Long,
      private[tables] val readableTables: Map[String, TableState],
      completion: java.util.concurrent.CompletableFuture[Long]) {
    def read(spark: SparkSession, table: String): Option[DataFrame] =
      scanState(spark, readableTables.get(table))
    @volatile private var conflictThrown = false
    def await(): Long =
      try completion.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          if (e.getCause.isInstanceOf[CommitConflictException])
            conflictThrown = true
          throw e.getCause
      }
    def isDone: Boolean = completion.isDone
    def failed: Boolean = completion.isCompletedExceptionally
    /** Published, or lost its CAS and has thrown that conflict once. */
    private[tables] def settled: Boolean =
      isDone && (!failed || conflictThrown)
  }
}
