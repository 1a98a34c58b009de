package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import scala.jdk.CollectionConverters._

/** Crash-atomic commits for the partitioned standing stores
  * ([[Similarity.writeStandingStore]]'s embedding store and
  * [[Dedup.writeSignatureStore]]'s minhash store). A store commits
  * through one of TWO protocols, chosen by the writer's `versioned`
  * flag when the store is first written and kept for its lifetime —
  * there is no migration between them:
  *
  *  - '''Plain staged swap''' (`versioned = false`). The mutation paths
  *    (delete-by-id, delete-by-cluster, forget-docs, bucket-local merge,
  *    compaction) rewrite a bounded set of `partCol=b` directories under
  *    `$path/<dataDir>` in place. Doing that as a dynamic partition
  *    overwrite of the path being read has two hazards this protocol
  *    removes:
  *      1. '''Crash window.''' An overwrite-then-delete sequence that
  *         dies midway resurrects "forgotten" rows or leaves the store
  *         half rewritten — unacceptable for a right-to-be-forgotten API.
  *         Here the rewritten buckets are STAGED under `$path/.staging`
  *         (Spark never lists dot-dirs, so readers can't see them), then
  *         a manifest at `$path/_pending_swap` is renamed into place —
  *         the single commit point — and only then are bucket
  *         directories swapped one rename each. A crash before the
  *         manifest leaves the store byte-identical (the orphan staging
  *         dir is inert and reclaimed on the next mutation); a crash
  *         after it is rolled FORWARD by [[recover]], which every store
  *         read/mutation entry point calls first. Bucket swaps are
  *         idempotent, so recovery can itself crash and re-run. The
  *         manifest records which touched buckets survived (staged) vs
  *         emptied (their live directories must be dropped or deleted
  *         rows resurface), so recovery never confuses "already swapped"
  *         with "emptied".
  *      2. '''Executor-memory pinning.''' Spark refuses a write that
  *         still reads the path it replaces; the staging write IS the
  *         materialization — straight to disk, source files untouched
  *         until the swap, nothing pinned in executor memory.
  *    Readers list the live dirs directly (no indirection), but the
  *    swap INSTANT is visible: [[applySwap]] deletes a live bucket
  *    directory and then renames the staged one in, so a reader listing
  *    the store between the two operations sees that bucket missing —
  *    concurrent readers need a maintenance window.
  *  - '''Unified manifest''' (`versioned = true`). Every dataDir of the
  *    store (data, band index, sidecars, codebooks) lives in immutable
  *    generation dirs, and ONE store-wide manifest family under `_v`
  *    says which are live. Commits are one manifest rename, so a reader
  *    always resolves a complete snapshot — old or new, never mid-swap —
  *    and any retained version is a consistent state of the WHOLE store
  *    (time travel, manifest-pruned diffs, historical judgment replay).
  *    Composed multi-dataDir mutations publish as one version through
  *    [[transact]]; streaming sinks get an exactly-once batch ledger in
  *    the same rename as their data.
  *
  * Directory renames are atomic on HDFS-semantics filesystems (HDFS,
  * local, ABFS); on raw S3 they are copy+delete, where a production
  * deployment should put the store behind a table format with a real
  * commit protocol instead.
  *
  * '''Writers.''' Mutators are SINGLE-WRITER by contract under both
  * protocols, enforced: every mutation entry point runs under
  * [[withLease]], and a second simultaneous mutator of the same store
  * path fails fast instead of corrupting the shared staging dir and
  * manifest.
  */
object StoreSwap {
  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifest(path: String) = new Path(path + "/_pending_swap")
  private def staging(path: String) = new Path(path + "/.staging")
  private def lease(path: String) = new Path(path + "/_writer_lease")

  /** Store paths whose lease THIS thread currently holds — composite
    * mutations (a refit is delete + append + code refresh + codebook
    * write) re-enter [[withLease]] freely; a DIFFERENT thread or
    * process hits the lease file and fails fast instead. */
  private val heldByThread =
    new ThreadLocal[scala.collection.mutable.Set[String]] {
      override def initialValue() = scala.collection.mutable.Set.empty[String]
    }

  /** Default age past which a lease is presumed abandoned by a crashed
    * writer and broken (1 h — far beyond any single mutation here). */
  val DefaultLeaseStaleMs: Long = 60L * 60 * 1000

  /** Run `body` holding `path`'s WRITER LEASE — the stores are
    * single-mutator by contract: [[stagedRewrite]]'s swap instant
    * (delete live dir, rename staged dir in) is invisible to crash
    * recovery but NOT to a concurrent reader, and two concurrent
    * mutators would overwrite each other's staging dir and manifest.
    * The lease file (`$path/_writer_lease`) is created
    * create-if-absent; a second mutator fails fast with an error
    * naming the holder rather than corrupting state. A lease older
    * than `staleMs` is presumed crashed and broken (the next
    * mutation's entry-point [[recover]] completes whatever the dead
    * writer committed). Reentrant per thread, so composite mutations
    * acquire once. Best-effort on filesystems without atomic
    * create-if-absent semantics (raw S3) — there, front the store
    * with a real lock service or table format. The stale-break itself
    * has a delete/create race window (two writers that both judged the
    * same lease stale can both acquire); the lease is a fail-fast
    * guard for the documented single-mutator contract, not a
    * distributed lock — schedule mutations externally. */
  def withLease[T](spark: SparkSession, path: String,
                   staleMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    if (heldByThread.get.contains(path)) return body
    val lp = lease(path)
    val fs = fsOf(spark, lp)
    if (fs.exists(lp)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lp).getModificationTime
      if (age >= staleMs) fs.delete(lp, false) // crashed holder
    }
    // the token is unique per acquisition, not just per process: if THIS
    // writer's lease is stale-broken by another mutator mid-run, release
    // must NOT delete the new holder's lease (that would cascade a third
    // mutator into the overlap the lease exists to prevent)
    val token =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}" +
        s"#${java.util.UUID.randomUUID()}"
    def readLease(): String =
      try {
        val in = fs.open(lp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      } catch { case _: java.io.IOException => "<unreadable>" }
    val acquired =
      try {
        val out = fs.create(lp, false) // atomic create-if-absent
        try out.write(s"$token\n".getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!acquired)
      sys.error(s"store $path is already being mutated (writer lease held" +
        s" by ${readLease()}); stores are single-mutator — serialize" +
        s" mutations externally, or break a dead writer's lease by" +
        s" deleting $lp")
    heldByThread.get += path
    try body
    finally {
      heldByThread.get -= path
      // release only a lease we still own — ours may have been
      // stale-broken and replaced while we ran past staleMs. The check
      // is rename-then-verify, not read-then-delete: a successor that
      // stale-breaks and rewrites the lease BETWEEN a read and a delete
      // would have its fresh lease deleted, re-opening the overlap the
      // token exists to prevent. Rename atomically captures whatever
      // file is at the lease path; only a tombstone that verifies as
      // OURS is deleted — a successor's is renamed back intact.
      if (fs.exists(lp) && readLease() == token) {
        val tomb = new Path(path + s"/.lease-tomb-${java.util.UUID.randomUUID()}")
        if (fs.rename(lp, tomb)) {
          val captured =
            try {
              val in = fs.open(tomb)
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
            } catch { case _: java.io.IOException => "<unreadable>" }
          if (captured == token) fs.delete(tomb, false)
          else if (!fs.rename(tomb, lp)) fs.delete(tomb, false)
          // rename-back can only fail if a THIRD writer re-created the
          // lease meanwhile; dropping the orphaned tombstone then is the
          // documented best-effort bound of this fail-fast guard
        }
      }
    }
  }

  /** The holder string of a LIVE lease on `path` owned by another
    * thread/process, or None when the path is mutable by this caller
    * (no lease, our own reentrant lease, or a stale one). Read paths
    * that ROLL FORWARD a committed swap consult this first: applying a
    * swap concurrently with the lease-holding writer's own apply is a
    * destructive race (delete a just-swapped live dir, then fail the
    * rename), so a reader seeing a live foreign lease must refuse
    * instead. */
  def foreignLiveLease(spark: SparkSession, path: String,
                       staleMs: Long = DefaultLeaseStaleMs): Option[String] = {
    if (heldByThread.get.contains(path)) return None
    val lp = lease(path)
    val fs = fsOf(spark, lp)
    if (!fs.exists(lp)) return None
    try {
      val st = fs.getFileStatus(lp)
      if (System.currentTimeMillis() - st.getModificationTime >= staleMs)
        None // stale — the next mutator will break it
      else {
        val in = fs.open(lp)
        val holder =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        Some(holder)
      }
    } catch {
      case _: java.io.IOException => None // vanished between exists and read
    }
  }

  /** Roll forward a swap interrupted after its commit point. Called by
    * the store read and mutation entry points; a no-op (false) when no
    * manifest is pending. A pending manifest under a LIVE foreign lease
    * is not a crash to recover but a writer mid-commit — applying the
    * swap from here would race the writer's own apply destructively
    * (both delete-and-rename the same live dirs), so the call fails
    * fast instead; retry after the writer releases. */
  def recover(spark: SparkSession, path: String): Boolean = {
    val mf = manifest(path)
    val fs = fsOf(spark, mf)
    if (!fs.exists(mf)) return false
    foreignLiveLease(spark, path).foreach { holder =>
      sys.error(s"store $path has a pending swap under a live writer" +
        s" lease ($holder) — the writer is mid-commit; retry after it" +
        " releases instead of racing its roll-forward")
    }
    val in = fs.open(mf)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = body.split("\n", -1)
    val partCol = lines(0)
    def ints(s: String): Seq[Int] =
      if (s.isEmpty) Seq.empty else s.split(",").toSeq.map(_.toInt)
    val dataDir = if (lines.length > 3 && lines(3).nonEmpty) lines(3)
      else "data"
    applySwap(spark, path, partCol, ints(lines(1)), ints(lines(2)), dataDir)
    true
  }

  /** The data files of a parquet directory Spark wrote, partition
    * subdirectories included (`_SUCCESS`, `.crc` and other `_`/`.`
    * entries skipped). */
  private def parquetFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .flatMap(s => if (s.isDirectory) parquetFiles(fs, s.getPath)
        else Seq(s.getPath))

  /** Open one parquet file's footer on the driver and apply `f`. */
  private def footer[T](spark: SparkSession, p: Path)
                       (f: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try f(r) finally r.close()
  }

  /** The one row of a store-constants sidecar (`$path/meta`,
    * `bands_meta`, `shingles_meta`, ...), column name → value, read
    * with parquet-hadoop on the driver: no Spark job, where a
    * `spark.read.parquet(dir).head` costs two (schema inference, then
    * the row). INT columns only — the sidecars hold layout constants.
    * Fails naming `dir` when the sidecar is missing or does not hold
    * exactly one row, and on lookup of a column it lacks: a store whose
    * constants are unreadable must not be judged or mutated under
    * guessed ones. */
  def readConstants(spark: SparkSession, dir: String): Map[String, Int] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p))
      sys.error(s"store constants sidecar $dir is missing")
    val files = parquetFiles(fs, p)
    val counts = files.map(footer(spark, _)(_.getRecordCount))
    if (counts.sum != 1L)
      sys.error(s"store constants sidecar $dir holds ${counts.sum} rows" +
        " (exactly 1 expected)")
    footer(spark, files(counts.indexOf(1L))) { r =>
      val schema = r.getFooter.getFileMetaData.getSchema
      val rec = new ColumnIOFactory().getColumnIO(schema)
        .getRecordReader(r.readNextRowGroup(),
          new GroupRecordConverter(schema))
        .read()
      schema.getFields.asScala.zipWithIndex.map { case (f, i) =>
        val t = f.asPrimitiveType.getPrimitiveTypeName
        if (t != PrimitiveTypeName.INT32)
          sys.error(s"store constants sidecar $dir: column ${f.getName}" +
            s" is $t, not INT32")
        f.getName -> rec.getInteger(i, 0)
      }.toMap.withDefault(name =>
        sys.error(s"store constants sidecar $dir has no '$name' column"))
    }
  }

  /** The bucket count a standing store (signature or embedding)
    * records in its `meta` sidecar. */
  def storeBuckets(spark: SparkSession, path: String): Int =
    readConstants(spark, path + "/meta")("buckets")


  /** Crash-atomic rewrite of the `touched` buckets of `$path/$dataDir`
    * (default `data`; the PQ code sidecar passes `pq_codes`). `slice`
    * must be the full replacement content for those buckets and carry
    * `partCol`; buckets of `touched` absent from `slice` are emptied
    * (their directories dropped at swap, their entries dropped from the
    * manifest). Returns the staged row count (= rows the touched
    * buckets hold after the swap), summed from the staged files'
    * parquet footers on the driver, so callers can derive deleted-row
    * counts without evaluating `slice` twice. */
  def stagedRewrite(spark: SparkSession, path: String, partCol: String,
                    touched: Seq[Int], slice: DataFrame,
                    sortCols: Seq[Column],
                    dataDir: String = "data"): Long = withLease(spark, path) {
    recover(spark, path) // finish any interrupted predecessor first
    val stg = staging(path)
    val fs = fsOf(spark, stg)
    val stagedBuckets = stage(fs, stg, partCol, slice, sortCols)
    // a rewrite that empties EVERY touched bucket stages no data files
    // at all, so the footer sum is 0 with nothing to open
    val kept = parquetFiles(fs, stg)
      .map(footer(spark, _)(_.getRecordCount)).sum
    if (isUnified(spark, path)) {
      // staged buckets become an immutable generation, visibility flips
      // with one manifest rename, emptied touched buckets simply leave
      // the manifest. No _pending_swap, no roll-forward — a crash before
      // the manifest leaves the store byte-identical (the orphan gen is
      // reclaimed at the next commit).
      commitUnified(spark, path, dataDir, stg,
        stagedBuckets.map(b => s"$partCol=$b"),
        touchedDirs = touched.map(b => s"$partCol=$b").toSet,
        replaceAll = false)
      return kept
    }
    val surviving = touched.filter(stagedBuckets)
    val emptied = touched.filterNot(stagedBuckets)
    // commit point: the manifest rename makes the swap durable
    val tmp = new Path(path + "/_pending_swap.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      s"$partCol\n${surviving.mkString(",")}\n${emptied.mkString(",")}\n$dataDir"
        .getBytes("UTF-8"))
    finally out.close()
    // recover() at entry consumed any predecessor's manifest and the
    // lease excludes other writers — a manifest appearing here means the
    // single-mutator contract was violated (e.g. a lease broken as
    // stale under a still-live writer): fail fast, don't clobber it
    if (fs.exists(manifest(path)))
      sys.error(s"foreign swap manifest appeared under $path during a" +
        " staged rewrite — concurrent mutator detected, aborting")
    if (!fs.rename(tmp, manifest(path)))
      sys.error(s"could not commit swap manifest under $path")
    applySwap(spark, path, partCol, surviving, emptied, dataDir)
    kept
  }

  /** Write `df` partitioned by `partCol` into a fresh staging dir `stg`
    * (any orphan of a pre-commit crash is dropped first) and return the
    * bucket ids it staged. */
  private def stage(fs: FileSystem, stg: Path, partCol: String,
                    df: DataFrame, sortCols: Seq[Column]): Set[Int] = {
    if (fs.exists(stg)) fs.delete(stg, true)
    df.repartition(col(partCol))
      .sortWithinPartitions(sortCols: _*)
      .write.partitionBy(partCol).parquet(stg.toString)
    fs.listStatus(stg)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map(_.getPath.getName.stripPrefix(partCol + "=").toInt).toSet
  }

  // ---- the unified manifest ------------------------------------------
  //
  //   $path/_v/store.v<N>                — committed manifests, one line
  //                                        per entry: "<dataDir>/partCol=b
  //                                        |g1,g2,…" (the gens holding
  //                                        that bucket's files — a set, so
  //                                        appends stay O(delta)), plus
  //                                        reserved `#…` metadata entries
  //   $path/<dataDir>.gens/g<G>/partCol=b/part-*.parquet
  //                                      — IMMUTABLE once committed;
  //                                        each commit renames its staged
  //                                        buckets in as a fresh gen
  //
  // A read resolves ONE manifest (one file read = an atomic snapshot of
  // the whole store), lists exactly the referenced dirs, and reads them
  // with per-gen basePath so the partition column still infers. A
  // mutation stages as the plain swap does, renames the staging dir to
  // a fresh gen (an orphan if it crashes here — inert, reclaimed on the
  // next commit), and commits by renaming manifest v+1 into _v — the
  // single visibility point. There is NO roll-forward: either the
  // manifest exists (commit complete) or it doesn't (store unchanged).
  // A reader that resolved just before a commit keeps reading its gens
  // untouched: GC unlinks only gens unreferenced by the last
  // `graft.store.snapshotKeep`+1 manifests (default 1 prior — the grace
  // window; raise it for long-running readers and time travel).
  // Generation numbers are per dataDir (allocated max+1 over every
  // retained reference and whatever is on disk, so orphans of crashed
  // commits can never collide); batch ledgers are per dataDir
  // (`#batches:<dataDir>`) so independent batch streams never alias.

  private def versionsDir(path: String) = new Path(path + "/_v")

  /** Whether `path` commits through the unified store manifest (a store
    * written with `versioned = true`). */
  def isUnified(spark: SparkSession, path: String): Boolean =
    manifests(fsOf(spark, versionsDir(path)), path).nonEmpty

  /** An open composite commit: entry updates accumulate here and
    * publish as ONE manifest rename when [[transact]] closes. */
  private final class Txn(val baseV: Int) {
    var entries: Map[String, Seq[Long]] = Map.empty
    var dirty: Boolean = false
  }
  private val activeTxn =
    new ThreadLocal[scala.collection.mutable.Map[String, Txn]] {
      override def initialValue() =
        scala.collection.mutable.Map.empty[String, Txn]
    }

  private def latestUnifiedRaw(spark: SparkSession,
                               path: String): Option[(Int, Map[String, Seq[Long]])] = {
    val fs = fsOf(spark, versionsDir(path))
    manifests(fs, path).lastOption
      .map { case (v, p) => (v, readManifest(fs, p)) }
  }

  /** The entries THIS thread currently sees: an open txn's pending view
    * (read-your-own-writes — a composed mutation's later steps read its
    * earlier steps' commits) or the latest manifest. */
  private def unifiedView(spark: SparkSession,
                          path: String): Option[(Int, Map[String, Seq[Long]])] =
    activeTxn.get.get(path) match {
      case Some(t) => Some((t.baseV, t.entries))
      case None => latestUnifiedRaw(spark, path)
    }

  /** The current view, or version -1 with no entries for a store whose
    * first commit is the caller's. */
  private def currentView(spark: SparkSession,
                          path: String): (Int, Map[String, Seq[Long]]) =
    unifiedView(spark, path).getOrElse((-1, Map.empty))

  /** A dataDir's bucket entries out of the store-wide entry map, keyed by
    * bare partDir (reserved metadata entries dropped). */
  private def sliceDataDir(all: Map[String, Seq[Long]],
                           dataDir: String): Map[String, Seq[Long]] = {
    val pfx = dataDir + "/"
    all.collect { case (k, v) if k.startsWith(pfx) => k.stripPrefix(pfx) -> v }
  }

  /** Run `body` as ONE composite commit of a unified store: every
    * mutation inside it (staged rewrites, appends, ledger acks, store
    * metadata — across ANY of the store's dataDirs) accumulates into one
    * pending entry map that publishes as a single `store.v<N+1>`
    * manifest rename when `body` returns. A crash or exception anywhere
    * inside leaves the store AT ITS PRE-TXN VERSION — the staged
    * generation dirs are unreferenced orphans reclaimed by the next
    * commit's GC. Mutations inside the txn read their own pending
    * writes (a composed ingest's band merge reads the signatures its
    * first step merged); other threads keep resolving the committed
    * manifest. Reentrant. */
  def transact[T](spark: SparkSession, path: String)(body: => T): T =
    withLease(spark, path) {
      if (activeTxn.get.contains(path)) body
      else {
        recover(spark, path)
        val (baseV, entries) = latestUnifiedRaw(spark, path).getOrElse(
          sys.error(s"$path is not a unified-manifest store — composite" +
            " transactions need a store written with versioned = true"))
        val t = new Txn(baseV)
        t.entries = entries
        activeTxn.get(path) = t
        val result =
          try body
          catch {
            // A real exception ABORTS the txn by design (pre-txn
            // version stays published; staged gens are orphans). A
            // CONTROL throw — a non-local `return` in the body — is
            // different: the caller believes it completed normally,
            // so silently dropping accumulated mutations would be
            // data loss. Safe only before the first mutation; a dirty
            // txn unwinding this way is a caller bug — fail loudly.
            case e: scala.util.control.ControlThrowable if t.dirty =>
              activeTxn.get.remove(path)
              sys.error(s"non-local return unwound an OPEN DIRTY store" +
                s" transaction on $path without publishing — restructure" +
                " the body to if/else (early returns are safe only" +
                " before the first manifest mutation)")
            case e: Throwable =>
              activeTxn.get.remove(path)
              throw e
          }
        activeTxn.get.remove(path)
        if (t.dirty) publish(spark, path, baseV, t.entries)
        result
      }
    }

  /** Run `body` as ONE composite commit when the store is unified —
    * the wrapper every multi-swap mutation (forget across data +
    * sidecar, band merge across index + inventory, refit across
    * delete/append/codebook/codes) puts around its sequence, so unified
    * stores get reader-atomic, single-version semantics for the WHOLE
    * operation while plain-swap stores keep their crash-atomic-per-swap
    * + idempotent-re-run contract. Reentrant (an enclosing [[transact]]
    * absorbs it). */
  def atomicallyIfUnified[T](spark: SparkSession, path: String)
                            (body: => T): T =
    if (isUnified(spark, path)) transact(spark, path)(body) else body

  /** [[withLease]] + [[atomicallyIfUnified]] — the standard bracket of
    * a multi-swap store mutation. Bodies with early `return`: safe
    * only while every such return precedes the first manifest mutation
    * — [[transact]] DETECTS a non-local return unwinding a dirty txn
    * and fails loudly instead of silently dropping the work. */
  def withLeaseAtomic[T](spark: SparkSession, path: String)
                        (body: => T): T =
    withLease(spark, path) { atomicallyIfUnified(spark, path)(body) }

  /** Publish `entries` as version `baseV + 1` — or, inside an open
    * [[transact]], fold them into the txn's pending view. The snapshot
    * window is read before the commit point, so a bad
    * `graft.store.snapshotKeep` fails with the store unchanged. */
  private def publish(spark: SparkSession, path: String, baseV: Int,
                      entries: Map[String, Seq[Long]]): Unit =
    activeTxn.get.get(path) match {
      case Some(t) =>
        t.entries = entries
        t.dirty = true
      case None =>
        val keep = snapshotKeep(spark)
        val fs = fsOf(spark, versionsDir(path))
        writeManifest(fs, path, baseV + 1, entries)
        gcUnified(fs, path, keep)
    }

  /** Next free generation number for `dataDir` — strictly above every
    * gen any RETAINED manifest references, the current (txn) view
    * references, or that exists on disk (orphans of crashed commits
    * must not be reused while a reader could still list them). */
  private def nextGen(fs: FileSystem, path: String, dataDir: String,
                      current: Map[String, Seq[Long]]): Long = {
    val pfx = dataDir + "/"
    val fromManifests = manifests(fs, path)
      .flatMap { case (_, p) =>
        readManifest(fs, p).collect {
          case (k, gs) if k.startsWith(pfx) => gs
        }.flatten
      }
    val fromCurrent = current.collect {
      case (k, gs) if k.startsWith(pfx) => gs
    }.flatten
    val root = new Path(s"$path/$dataDir.gens")
    val fromDisk =
      if (fs.exists(root)) fs.listStatus(root).toSeq
        .flatMap(s => s.getPath.getName.stripPrefix("g").toLongOption)
      else Seq.empty[Long]
    (fromManifests ++ fromCurrent ++ fromDisk).foldLeft(-1L)(math.max) + 1
  }

  /** The unified commit: rename staged buckets in as a fresh generation
    * of `dataDir`, fold the dataDir's entry updates into the store-wide
    * map, publish. `append` ADDS the gen to its buckets' gen lists;
    * otherwise the staged buckets REPLACE their entries, together with
    * every `touchedDirs` entry (rewrite) or every entry of the dataDir
    * (`replaceAll`). The batch ledger rides the same manifest rename as
    * the data it acknowledges — exactly-once hinges on that atomicity. */
  private def commitUnified(spark: SparkSession, path: String,
                            dataDir: String, stg: Path,
                            stagedBuckets: Set[String],
                            touchedDirs: Set[String],
                            replaceAll: Boolean,
                            append: Boolean = false,
                            batchRecord: Option[Long] = None): Unit = {
    val fs = fsOf(spark, stg)
    val (baseV, all0) = currentView(spark, path)
    val pfx = dataDir + "/"
    val gen =
      if (stagedBuckets.isEmpty) -1L // ledger-only commit stages nothing
      else {
        val g = nextGen(fs, path, dataDir, all0)
        val gDir = new Path(s"$path/$dataDir.gens/g$g")
        fs.mkdirs(gDir.getParent)
        if (fs.exists(gDir)) fs.delete(gDir, true)
        if (!fs.rename(stg, gDir))
          sys.error(s"could not commit staged generation $gDir")
        g
      }
    val stagedP = stagedBuckets.map(pfx + _)
    // replaceAll drops every BUCKET entry of the dataDir but carries the
    // reserved entries (#batches, #meta) through: a mid-stream full
    // rewrite (refit, sidecar rebuild) must not amnesia the exactly-once
    // ledger, or a batch redelivered after the rewrite re-applies
    val entries =
      if (append)
        all0 ++ stagedP.map(d => d -> (all0.getOrElse(d, Seq.empty) :+ gen))
      else
        (if (replaceAll) all0.filter { case (k, _) => !k.startsWith(pfx) }
         else all0 -- touchedDirs.map(pfx + _)) ++
          stagedP.map(_ -> Seq(gen))
    val withLedger = batchRecord match {
      case Some(id) =>
        val bk = batchesKey(dataDir)
        entries + (bk ->
          ((all0.getOrElse(bk, Seq.empty) :+ id).distinct
            .takeRight(BatchLedgerKeep)))
      case None => entries
    }
    publish(spark, path, baseV, withLedger)
  }

  /** GC: drop manifests beyond the grace window (`keep` prior ones),
    * then, PER dataDir the kept manifests reference, delete unreferenced
    * generation dirs. Gens roots of dataDirs NO kept manifest mentions
    * are left alone. */
  private def gcUnified(fs: FileSystem, path: String, keep: Int): Unit = {
    val all = manifests(fs, path)
    all.dropRight(keep + 1).foreach { case (_, p) => fs.delete(p, false) }
    val kept = manifests(fs, path).map { case (_, p) => readManifest(fs, p) }
    // NOTE: each manifest map must be flattened to a Seq BEFORE
    // collecting (dataDir, gens) pairs — collect on a Map would key the
    // result by dataDir and silently keep ONE bucket's gens per dir.
    // Reserved entries carry batch ids and constants, not generation
    // numbers — including them would pin unrelated gens forever.
    val byDir = kept.flatMap(_.toSeq.collect {
        case (k, gs) if !isReservedKey(k) && k.contains("/") =>
          (k.substring(0, k.indexOf("/")), gs)
      })
      .groupBy(_._1).map { case (d, xs) => d -> xs.flatMap(_._2).toSet }
    byDir.foreach { case (d, live) =>
      val root = new Path(s"$path/$d.gens")
      if (fs.exists(root))
        fs.listStatus(root)
          .map(_.getPath)
          .filter(p => p.getName.startsWith("g") &&
            p.getName.stripPrefix("g").toLongOption.exists(!live.contains(_)))
          .foreach(p => fs.delete(p, true))
    }
  }

  /** `$path/$dataDir` as a DataFrame under the store's protocol:
    * manifest-resolved snapshot (unified) or live-dir listing (plain
    * swap). Filters on `partCol` prune files in both. */
  def readDir(spark: SparkSession, path: String, dataDir: String,
              partCol: String): DataFrame =
    if (isUnified(spark, path)) readVersioned(spark, path, dataDir, partCol)
    else spark.read.parquet(s"$path/$dataDir")

  /** Whether `dataDir` exists under the store's protocol. */
  def dirExists(spark: SparkSession, path: String,
                dataDir: String): Boolean =
    if (isUnified(spark, path))
      latestSnapshot(spark, path, dataDir).isDefined
    else {
      val p = new Path(s"$path/$dataDir")
      fsOf(spark, p).exists(p)
    }

  /** Full write of a store dataDir under the store's protocol.
    * `forceVersioned` writes through the unified manifest even when the
    * store has none yet — the first commit of a `versioned = true`
    * store. */
  def overwriteDir(spark: SparkSession, path: String, dataDir: String,
                   partCol: String, df: DataFrame, sortCols: Seq[Column],
                   forceVersioned: Boolean = false): Unit =
    if (forceVersioned || isUnified(spark, path))
      versionedOverwrite(spark, path, partCol, df, sortCols, dataDir)
    else df
      .repartition(col(partCol))
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(s"$path/$dataDir")

  /** APPEND a delta to a store dataDir under its protocol. Unified: the
    * staged delta becomes a new generation ADDED to its buckets'
    * generation lists (reads union a bucket's gens), one manifest
    * rename — reader-atomic like every unified commit, and
    * delta-footprint (untouched buckets' files never open). Plain swap:
    * a plain append write (new files land in live bucket dirs).
    *
    * @param batchId idempotent-replay key for streaming ingest (unified
    *                stores only): the id is recorded in the SAME
    *                manifest rename that publishes the data, so "rows
    *                visible" and "batch acknowledged" cannot diverge
    *                across a crash — and a redelivered batch
    *                (Structured Streaming's at-least-once foreachBatch
    *                contract after an unacknowledged epoch) is detected
    *                by [[committedBatches]] and skipped WITHOUT
    *                evaluating the DataFrame. That makes the sink
    *                exactly-once end-to-end. Plain-swap appends have no
    *                atomic data+ledger commit to offer and refuse the
    *                parameter. */
  def appendDir(spark: SparkSession, path: String, dataDir: String,
                partCol: String, df: DataFrame,
                sortCols: Seq[Column],
                batchId: Option[Long] = None): Unit =
    if (isUnified(spark, path)) withLease(spark, path) {
      if (batchId.exists(committedBatches(spark, path, dataDir).contains))
        return // replayed micro-batch: already durably committed
      val stg = staging(path)
      val stagedBuckets =
        stage(fsOf(spark, stg), stg, partCol, df, sortCols)
      commitUnified(spark, path, dataDir, stg,
        stagedBuckets.map(b => s"$partCol=$b"),
        touchedDirs = Set.empty, replaceAll = false, append = true,
        batchRecord = batchId)
    }
    else {
      require(batchId.isEmpty, s"$path is not versioned:" +
        " exactly-once batch tracking needs the manifest commit" +
        " protocol (writeStandingStore/writeSignatureStore with" +
        " versioned = true)")
      df.repartition(col(partCol))
        .sortWithinPartitions(sortCols: _*)
        .write.mode("append").partitionBy(partCol)
        .parquet(s"$path/$dataDir")
    }

  /** Streaming batch ids already committed into `dataDir`'s stream —
    * the tail window of [[BatchLedgerKeep]] most-recent ids, read from
    * the current manifest (one file read, atomic with the data it
    * acknowledges). Empty on a plain-swap store. */
  def committedBatches(spark: SparkSession, path: String,
                       dataDir: String): Set[Long] =
    unifiedView(spark, path)
      .flatMap(_._2.get(batchesKey(dataDir)))
      .map(_.toSet)
      .getOrElse(Set.empty)

  /** ACK-ONLY ledger commit: record `batchId` as committed into
    * `dataDir`'s stream WITHOUT publishing data. Inside a [[transact]]
    * (the composed text ingest's three merges) the ack folds into the
    * same manifest rename as the merges it acknowledges; on its own it
    * publishes one version. Same ledger, same [[committedBatches]]
    * lookup as [[appendDir]]'s batchId. */
  def ackBatch(spark: SparkSession, path: String, dataDir: String,
               batchId: Long): Unit = withLease(spark, path) {
    require(isUnified(spark, path),
      s"$path is not versioned: the batch ledger needs the manifest" +
        " commit protocol")
    if (committedBatches(spark, path, dataDir).contains(batchId)) return
    commitUnified(spark, path, dataDir, staging(path),
      stagedBuckets = Set.empty, touchedDirs = Set.empty,
      replaceAll = false, append = true, batchRecord = Some(batchId))
  }

  /** Manifest ledger key for one dataDir's batch stream: two dataDirs
    * tracking independent streams with overlapping batch ids must not
    * alias. */
  private def batchesKey(dataDir: String): String = s"#batches:$dataDir"

  /** Record model/layout constants as a reserved `#meta:<name>` entry
    * of the manifest, so the constants VERSION WITH the data they
    * describe: a historical (as-of) reader resolves them from the
    * pinned manifest, never from a live sidecar a later rebuild may
    * have rewritten under different constants (e.g. the band index's
    * `idx_buckets` layout — delta bucket ids computed under a new
    * layout against band rows written under an old one silently drop
    * candidates). Folds into an open [[transact]] (one rename with the
    * mutation it describes) or publishes its own manifest version.
    * Entries carry forward across later commits until overwritten.
    * CAUTION: manifest values serialize as a SORTED multiset (they are
    * generation SETS everywhere else) — an ORDERED tuple must be
    * stored as one single-value entry per component name. */
  def putStoreMeta(spark: SparkSession, path: String,
                   meta: Map[String, Seq[Long]]): Unit =
    withLease(spark, path) {
    require(isUnified(spark, path),
      s"$path: versioned store metadata needs the unified manifest")
    val (baseV, all0) = currentView(spark, path)
    publish(spark, path, baseV,
      all0 ++ meta.map { case (n, vs) => storeMetaKey(n) -> vs })
  }

  /** The `#meta:<name>` constants at a pinned manifest `version`, or
    * the current view when `version` is None. None when the manifest
    * predates the first [[putStoreMeta]] of this name (or the store is
    * a plain-swap store). */
  def storeMetaAt(spark: SparkSession, path: String, name: String,
                  version: Option[Int] = None): Option[Seq[Long]] = {
    val key = storeMetaKey(name)
    version match {
      case Some(v) =>
        val fs = fsOf(spark, versionsDir(path))
        manifests(fs, path)
          .collectFirst { case (mv, p) if mv == v => readManifest(fs, p) }
          .flatMap(_.get(key))
      case None => unifiedView(spark, path).flatMap(_._2.get(key))
    }
  }

  private def storeMetaKey(name: String): String = s"#meta:$name"

  /** How many trailing batch ids the ledger retains. Structured
    * Streaming redelivers at most the batches after the last epoch the
    * sink acknowledged — in practice the immediately preceding one —
    * so a short tail is ample; a bounded ledger keeps the manifest
    * O(buckets), not O(stream lifetime). */
  val BatchLedgerKeep: Int = 64

  /** Manifest entry keys starting with `#` are RESERVED metadata, not
    * bucket directories: `#batches:<dataDir>` carries the tail of
    * streaming batch ids already committed (the idempotent-replay
    * ledger), `#meta:<name>` versioned constants. */
  private def isReservedKey(k: String): Boolean = k.startsWith("#")

  /** Committed store manifests, ascending by version. */
  private def manifests(fs: FileSystem, path: String): Seq[(Int, Path)] = {
    val vd = versionsDir(path)
    if (!fs.exists(vd)) return Seq.empty
    fs.listStatus(vd).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("store.v"))
      .flatMap(p => p.getName.stripPrefix("store.v").toIntOption.map(_ -> p))
      .sortBy(_._1)
  }

  /** Manifest values are LONGS: generation numbers fit comfortably in
    * Int, but the batch ledger shares this value slot and Structured
    * Streaming batch ids are unbounded longs — a stream past 2^31
    * batches must keep committing, not throw. */
  private def readManifest(fs: FileSystem, p: Path): Map[String, Seq[Long]] = {
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    body.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val Array(dir, gens) = line.split("\\|", 2)
      dir -> gens.split(",").toSeq.map(_.toLong)
    }.toMap
  }

  /** The current (version, bucketDir → gens) snapshot of `dataDir`, or
    * None when the store is not unified or holds no bucket entry for
    * the dataDir ("this dataDir was never written"). Inside an open
    * [[transact]] the txn's pending view is returned. */
  def latestSnapshot(spark: SparkSession, path: String,
                     dataDir: String): Option[(Int, Map[String, Seq[Long]])] =
    unifiedView(spark, path)
      .map { case (v, all) => (v, sliceDataDir(all, dataDir)) }
      .filter(_._2.nonEmpty)

  private def writeManifest(fs: FileSystem, path: String, v: Int,
                            entries: Map[String, Seq[Long]]): Unit = {
    fs.mkdirs(versionsDir(path))
    val tmp = new Path(path + s"/_v/.store.v$v.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (d, gs) => s"$d|${gs.sorted.mkString(",")}" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(path + s"/_v/store.v$v")
    if (fs.exists(dst) || !fs.rename(tmp, dst))
      sys.error(s"could not commit manifest $dst — concurrent mutator?")
  }

  /** Resolved leaf-dir paths of a dataDir snapshot, grouped by
    * generation (one group per basePath for partition-column
    * inference), restricted to `buckets` when given. */
  private def snapshotDirs(path: String, dataDir: String,
                           entries: Map[String, Seq[Long]],
                           partCol: String,
                           buckets: Option[Seq[Int]]): Seq[(String, Seq[String])] = {
    val want = buckets.map(_.map(b => s"$partCol=$b").toSet)
    entries.toSeq
      .filter { case (d, _) => want.forall(_.contains(d)) }
      .flatMap { case (d, gens) => gens.map(g => g -> d) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (g, ds) =>
        (s"$path/$dataDir.gens/g$g",
          ds.map { case (_, d) => s"$path/$dataDir.gens/g$g/$d" }.sorted)
      }
  }

  /** Snapshot read of `dataDir` — resolves the current manifest ONCE
    * (atomic), reads only the referenced (and, with `buckets`,
    * requested) immutable dirs. The plan never lists the live tree, so
    * a concurrent mutation is invisible to it: old snapshot until the
    * commit, new snapshot after, never a missing bucket. */
  def readVersioned(spark: SparkSession, path: String, dataDir: String,
                    partCol: String,
                    buckets: Option[Seq[Int]] = None): DataFrame = {
    val (_, entries) = latestSnapshot(spark, path, dataDir).getOrElse(
      sys.error(s"$path/$dataDir has no committed manifest — not a" +
        " versioned store dataDir (or never written)"))
    readEntries(spark, path, dataDir, partCol, entries, buckets)
  }

  /** The RETAINED store versions, ascending — the time-travel horizon.
    * Commits GC manifests beyond the `graft.store.snapshotKeep` grace
    * window, so this is a sliding window ending at the live version,
    * not unbounded history; raise the knob BEFORE the mutations whose
    * pre-states must stay readable. */
  def snapshotVersions(spark: SparkSession, path: String): Seq[Int] =
    manifests(fsOf(spark, versionsDir(path)), path).map(_._1)

  /** TIME-TRAVEL read: the snapshot of `dataDir` AS OF committed
    * `version` — same single-manifest-resolution guarantee as
    * [[readVersioned]], against a historical manifest instead of the
    * latest. The generations a retained manifest references are kept
    * by GC exactly as long as the manifest itself, so a version listed
    * by [[snapshotVersions]] is fully readable. Reading a GC'd version
    * fails fast naming the retained window. */
  def readVersionedAt(spark: SparkSession, path: String, dataDir: String,
                      partCol: String, version: Int,
                      buckets: Option[Seq[Int]] = None): DataFrame =
    readEntries(spark, path, dataDir, partCol,
      snapshotEntriesAt(spark, path, dataDir, version), buckets)

  /** The bucket-dir → generation-list entries of `dataDir` in a
    * RETAINED manifest version — the metadata a manifest-pruned diff
    * compares: generations are immutable once committed, so two
    * versions' entries being EQUAL for a bucket proves its files (hence
    * rows) are byte-identical without opening them. */
  def snapshotEntriesAt(spark: SparkSession, path: String,
                        dataDir: String,
                        version: Int): Map[String, Seq[Long]] = {
    val fs = fsOf(spark, versionsDir(path))
    val all = manifests(fs, path)
    val p = all.collectFirst { case (v, mp) if v == version => mp }
      .getOrElse(sys.error(s"$path/$dataDir has no retained manifest" +
        s" v$version — retained: ${all.map(_._1).mkString(",")}" +
        " (raise graft.store.snapshotKeep before mutating to widen the" +
        " time-travel window)"))
    sliceDataDir(readManifest(fs, p), dataDir)
  }

  private def readEntries(spark: SparkSession, path: String,
                          dataDir: String, partCol: String,
                          entries: Map[String, Seq[Long]],
                          buckets: Option[Seq[Int]]): DataFrame = {
    val groups = snapshotDirs(path, dataDir, entries, partCol, buckets)
    if (groups.isEmpty) {
      // bucket-pruned read with no surviving bucket: empty relation
      // with the store's schema (from any live dir; a store with NO
      // entries at all has no schema to offer)
      val any = snapshotDirs(path, dataDir, entries, partCol, None)
      require(any.nonEmpty, s"$path/$dataDir snapshot is empty")
      return spark.read.option("basePath", any.head._1)
        .parquet(any.head._2.head).filter(lit(false))
    }
    groups.map { case (base, dirs) =>
      spark.read.option("basePath", base).parquet(dirs: _*)
    }.reduce(_ unionByName _)
  }

  /** How many PRIOR manifests (and their gens) each commit preserves —
    * the reader grace window and time-travel horizon. Unset means 1; a
    * value that is not a non-negative integer fails the commit (a typo
    * must not silently shrink the window a long-running reader or a
    * pinned replay depends on). */
  private def snapshotKeep(spark: SparkSession): Int = {
    val key = "graft.store.snapshotKeep"
    spark.conf.getOption(key).fold(1) { s =>
      s.toIntOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a non-negative integer, got '$s'"))
    }
  }

  /** Full-overwrite write of `dataDir` through the unified manifest:
    * stage the whole relation, commit it as a fresh generation
    * REPLACING every prior entry of the dataDir — the unified twin of
    * the plain writers' `mode("overwrite").partitionBy(...)`. Readers
    * snapshotted on the old manifest keep their gens through the grace
    * window. */
  private def versionedOverwrite(spark: SparkSession, path: String,
                                 partCol: String, df: DataFrame,
                                 sortCols: Seq[Column],
                                 dataDir: String): Unit =
    withLease(spark, path) {
      val stg = staging(path)
      val stagedBuckets = stage(fsOf(spark, stg), stg, partCol, df, sortCols)
      commitUnified(spark, path, dataDir, stg,
        stagedBuckets.map(b => s"$partCol=$b"),
        touchedDirs = Set.empty, replaceAll = true)
    }

  /** The post-commit half of the plain swap: swap surviving buckets in
    * (one atomic rename each), drop emptied buckets' live directories,
    * then clear the manifest and staging remnants. Idempotent —
    * re-runnable after a crash at any point. */
  private def applySwap(spark: SparkSession, path: String, partCol: String,
                        surviving: Seq[Int], emptied: Seq[Int],
                        dataDir: String): Unit = {
    val stg = staging(path)
    val fs = fsOf(spark, stg)
    surviving.foreach { b =>
      val src = new Path(s"$path/.staging/$partCol=$b")
      val dst = new Path(s"$path/$dataDir/$partCol=$b")
      if (fs.exists(src)) { // absent = this bucket already swapped
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(src, dst)) sys.error(s"bucket swap failed: $dst")
      }
    }
    emptied.foreach { b =>
      val dst = new Path(s"$path/$dataDir/$partCol=$b")
      if (fs.exists(dst)) fs.delete(dst, true)
    }
    fs.delete(manifest(path), false)
    if (fs.exists(stg)) fs.delete(stg, true)
  }
}
