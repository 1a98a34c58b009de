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

/** Crash-atomic bucket rewrite for the partitioned standing stores
  * ([[Similarity.writeStandingStore]]'s embedding store and
  * [[Dedup.writeSignatureStore]]'s minhash store).
  *
  * The mutation paths (delete-by-id, delete-by-cluster, forget-docs,
  * bucket-local merge, compaction) all rewrite a bounded set of
  * `partCol=b` directories under `$path/data`. Doing that as a dynamic
  * partition overwrite of the path being read has two hazards this
  * helper removes:
  *
  *   1. '''Crash window.''' An overwrite-then-delete sequence that dies
  *      midway resurrects "forgotten" rows or leaves the store half
  *      rewritten — unacceptable for a right-to-be-forgotten API. Here
  *      the rewritten buckets are STAGED under `$path/.staging` (Spark
  *      never lists dot-dirs, so readers can't see them), then a
  *      manifest at `$path/_pending_swap` is renamed into place — the
  *      single commit point — and only then are bucket directories
  *      swapped one rename each. A crash before the manifest leaves the
  *      store byte-identical (the orphan staging dir is inert and
  *      reclaimed on the next mutation); a crash after it is rolled
  *      FORWARD by [[recover]], which every store read/mutation entry
  *      point calls first. Bucket swaps are idempotent, so recovery can
  *      itself crash and re-run.
  *   2. '''Executor-memory pinning.''' The old shape eagerly
  *      `localCheckpoint(true)`-ed the kept slice (Spark refuses a
  *      write that still reads the path it replaces, and the source
  *      files were about to be destroyed). With buckets sized to a few
  *      GB and many touched per batch, that pins the whole slice in
  *      executor memory at the 100 TB design point. The staging write
  *      IS the materialization now — straight to disk, source files
  *      untouched until the swap, nothing pinned.
  *
  * Directory renames are atomic on HDFS-semantics filesystems (HDFS,
  * local, ABFS); on raw S3 they are copy+delete, where a production
  * deployment should put the store behind a table format with a real
  * commit protocol instead. The manifest records which touched buckets
  * survived (staged) vs emptied (no rows left — their live directories
  * must be dropped or deleted rows resurface), so recovery never
  * confuses "already swapped" with "emptied".
  *
  * '''Concurrency contract.''' Staging is invisible to readers, but the
  * legacy swap INSTANT is not: [[applySwap]] deletes a live bucket
  * directory and then renames the staged one in, so a reader listing
  * the store between the two operations sees that bucket missing.
  * Crash safety (single writer, roll-forward) is complete; for
  * concurrent-READER isolation, opt the store into the VERSIONED
  * manifest mode below ([[enableVersioning]] /
  * `writeSignatureStore(versioned = true)`): commits become one
  * manifest rename over immutable generation dirs, so a reader always
  * resolves a complete snapshot — old or new, never mid-swap — and can
  * serve straight through maintenance. Legacy stores keep the
  * maintenance-window requirement. Mutators are SINGLE-WRITER by
  * contract in both modes, enforced: every mutation entry point runs
  * under [[withLease]], and a second simultaneous mutator of the same
  * store path fails fast instead of corrupting the shared staging dir
  * and manifest.
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
    * (their directories dropped at swap). Returns the staged row count
    * (= rows the touched buckets hold after the swap), summed from the
    * staged files' parquet footers on the driver, so callers can derive
    * deleted-row counts without evaluating `slice` twice. */
  def stagedRewrite(spark: SparkSession, path: String, partCol: String,
                    touched: Seq[Int], slice: DataFrame,
                    sortCols: Seq[Column],
                    dataDir: String = "data"): Long = withLease(spark, path) {
    recover(spark, path) // finish any interrupted predecessor first
    val stg = staging(path)
    val fs = fsOf(spark, stg)
    if (fs.exists(stg)) fs.delete(stg, true) // orphan of a pre-commit crash
    slice
      .repartition(col(partCol))
      .sortWithinPartitions(sortCols: _*)
      .write.partitionBy(partCol).parquet(stg.toString)
    val stagedBuckets = fs.listStatus(stg)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map(_.getPath.getName.stripPrefix(partCol + "=").toInt).toSet
    // a rewrite that empties EVERY touched bucket stages no data files
    // at all, so the footer sum is 0 with nothing to open
    val kept = parquetFiles(fs, stg)
      .map(footer(spark, _)(_.getRecordCount)).sum
    if (dataDirVersioned(spark, path, dataDir)) {
      // reader-atomic commit path: staged buckets become an immutable
      // generation, visibility flips with one manifest rename, emptied
      // touched buckets simply leave the manifest. No _pending_swap, no
      // roll-forward — a crash before the manifest leaves the store
      // byte-identical (the orphan gen is reclaimed at the next commit).
      commitVersioned(spark, path, dataDir, stg,
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

  // ---- versioned-manifest snapshot mode ------------------------------
  //
  // The legacy swap above is crash-atomic but not READER-atomic: the
  // per-bucket delete+rename leaves an instant where a listing reader
  // sees the bucket missing (the documented maintenance-window caveat).
  // The versioned mode removes that caveat with indirection:
  //
  //   $path/_v/<dataDir>.v<N>            — committed manifests: one line
  //                                        per live bucket dir,
  //                                        "partCol=b|g1,g2,…" (the gens
  //                                        holding that bucket's files —
  //                                        a set, so appends stay O(delta))
  //   $path/<dataDir>.gens/g<G>/partCol=b/part-*.parquet
  //                                      — IMMUTABLE once committed;
  //                                        each commit renames its staged
  //                                        buckets in as a fresh gen
  //
  // A read resolves the LATEST manifest (one file read = an atomic
  // snapshot), lists exactly the referenced dirs, and reads them with
  // per-gen basePath so the partition column still infers. A mutation
  // stages as before, renames the staging dir to gens/g<v+1> (orphan if
  // it crashes here — inert, reclaimed on the next commit), and commits
  // by renaming manifest v+1 into _v — the single visibility point.
  // There is NO roll-forward: either the manifest exists (commit
  // complete, nothing left to do) or it doesn't (store unchanged). A
  // reader that resolved just before a commit keeps reading its gens
  // untouched: GC unlinks only gens unreferenced by the last
  // `graft.store.snapshotKeep`+1 manifests (default 1 prior — the grace
  // window; raise it for long-running readers).

  private def versionsDir(path: String) = new Path(path + "/_v")

  /** Whether `path` commits through versioned manifests. */
  def isVersioned(spark: SparkSession, path: String): Boolean = {
    val v = versionsDir(path)
    fsOf(spark, v).exists(v)
  }

  // ---- unified store manifests ---------------------------------------
  //
  // The per-dataDir manifests above give each dataDir its OWN version
  // line, so a composed store (the text store's data + bands +
  // bands_inv + shingles) has no consistent cross-dataDir snapshot: a
  // time-travel read pins signatures only, and a reader can observe new
  // signatures with a not-yet-merged band index mid-ingest. The UNIFIED
  // mode replaces the four families with ONE manifest
  // (`_v/store.v<N>`) whose entries are "<dataDir>/<partDir>|gens" —
  // the same immutable per-dataDir generation dirs underneath, but
  // every commit (and, through [[transact]], every composed MULTI-
  // dataDir mutation) publishes with one rename. Any retained store
  // version is then a consistent snapshot of the WHOLE store: a
  // historical judgment replay reads the bands, sidecar, and data the
  // live judgment saw at that version. Generation numbers stay
  // per-dataDir (allocated max+1 over every retained reference and
  // whatever is on disk, so orphans of crashed commits can never
  // collide); ledger keys are namespaced per dataDir
  // (`#batches:<dataDir>`) so independent batch streams never alias.

  /** The manifest family name of the unified mode — reserved; no
    * dataDir may be called this. */
  private val StoreFamily = "store"

  /** Whether `path` commits through ONE unified store manifest. */
  def isUnified(spark: SparkSession, path: String): Boolean =
    manifests(fsOf(spark, versionsDir(path)), path, StoreFamily).nonEmpty

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
    manifests(fs, path, StoreFamily).lastOption
      .map { case (v, p) => (v, readManifest(fs, p)) }
  }

  /** The unified entries THIS thread currently sees: an open txn's
    * pending view (read-your-own-writes — a composed mutation's later
    * steps read its earlier steps' commits) or the latest manifest. */
  private def unifiedView(spark: SparkSession,
                          path: String): Option[(Int, Map[String, Seq[Long]])] =
    activeTxn.get.get(path) match {
      case Some(t) => Some((t.baseV, t.entries))
      case None => latestUnifiedRaw(spark, path)
    }

  /** A dataDir's slice of a unified entry map: bare partDir keys, plus
    * the dataDir's OWN namespaced ledger renamed to the per-dataDir
    * `#batches` key (other dataDirs' ledgers are not its business). */
  private def sliceDataDir(all: Map[String, Seq[Long]],
                           dataDir: String): Map[String, Seq[Long]] = {
    val pfx = dataDir + "/"
    val bk = unifiedBatchesKey(dataDir)
    val sliced: Map[String, Seq[Long]] = all.collect {
      // only THIS dataDir's namespaced ledger, under its per-dataDir
      // name — the slice looks exactly like a per-dataDir manifest
      case (k, v) if k == bk => BatchesKey -> v
      case (k, v) if k.startsWith(pfx) => k.stripPrefix(pfx) -> v
    }
    // Stores unified BEFORE the ledger was namespaced wrote ONE
    // store-wide `#batches` key. Until a dataDir's first post-upgrade
    // ack migrates it (commitUnified folds it into the namespaced
    // key), that legacy ledger is every dataDir's ledger — dropping it
    // here would erase the exactly-once window across the upgrade and
    // re-apply a redelivered batch.
    if (sliced.contains(BatchesKey)) sliced
    else all.get(BatchesKey).fold(sliced)(v => sliced + (BatchesKey -> v))
  }

  /** MIGRATE a versioned store to the unified manifest: each dataDir's
    * LATEST per-dataDir state (or its legacy live dir, renamed in as
    * generation 0) becomes its slice of the first `store.v<N>`
    * manifest, and the old per-dataDir manifest families are retired.
    * That manifest rename is the commit point — a crash before it
    * leaves the store on its old protocol (a dataDir whose live→g0
    * rename already completed is ADOPTED by the re-run, not skipped);
    * a crash after it leaves stale per-dataDir manifest files that a
    * re-run deletes (reads already prefer the unified manifest).
    * Per-dataDir HISTORY is not carried over — retention restarts at
    * the cutover — and the unified numbering starts ABOVE every
    * pre-migration version, so a read of a pre-migration version
    * number fails fast with the cutover runbook message instead of
    * aliasing a later unified snapshot. Idempotent.
    * `seedMeta` pins model/layout constants (name → longs, see
    * [[putStoreMeta]]) INTO the migration manifest itself, so the
    * cutover snapshot is historically replayable without a second
    * version bump. */
  def unifyVersioning(spark: SparkSession, path: String,
                      dataDirs: Seq[String],
                      seedMeta: Map[String, Seq[Long]] = Map.empty)
                     : Unit = withLease(spark, path) {
    require(!dataDirs.contains(StoreFamily),
      s"'$StoreFamily' is the unified manifest family name, not a dataDir")
    recover(spark, path)
    val fs = fsOf(spark, versionsDir(path))
    if (!isUnified(spark, path)) {
      var all = Map.empty[String, Seq[Long]]
      // The unified numbering starts ABOVE every per-dataDir version:
      // per-dataDir history is not carried across the cutover
      // (retention restarts), and starting at v0 would let a
      // pre-migration version NUMBER silently alias a later unified
      // snapshot — a reader asking for the old "v2" must fail fast
      // ([[readVersionedAt]]'s cutover message), never get a different
      // store state that happens to share the number.
      var startV = 0
      dataDirs.foreach { d =>
        val perDir = manifests(fs, path, d)
        if (perDir.nonEmpty) {
          startV = math.max(startV, perDir.last._1 + 1)
          val e = readManifest(fs, perDir.last._2)
          all ++= e.collect {
            case (k, gs) if !isReservedKey(k) => s"$d/$k" -> gs
          }
          // each dataDir tracked its OWN batch stream pre-migration;
          // keep them namespaced so overlapping batch ids from
          // independent streams can't alias into one store-wide ledger
          e.get(BatchesKey).foreach { ids =>
            all += unifiedBatchesKey(d) -> ids
          }
        } else {
          val live = new Path(s"$path/$d")
          val g0 = new Path(s"$path/$d.gens/g0")
          if (fs.exists(live)) {
            fs.mkdirs(g0.getParent)
            if (fs.exists(g0)) fs.delete(g0, true) // crashed predecessor
            if (!fs.rename(live, g0))
              sys.error(s"could not migrate $live to $g0")
          }
          // Adopt g0 whether THIS run renamed it or a crashed
          // predecessor did (rename done, store.v0 not yet written):
          // skipping a live-less g0 would commit a manifest WITHOUT the
          // dataDir and orphan its data, breaking the idempotence
          // contract. The rename is the per-dataDir migration point;
          // the manifest write below is the store-wide commit point.
          if (fs.exists(g0))
            all ++= fs.listStatus(g0)
              .filter(s => s.isDirectory && s.getPath.getName.contains("="))
              .map(s => s"$d/${s.getPath.getName}" -> Seq(0L))
        }
      }
      all ++= seedMeta.map { case (n, vs) => storeMetaKey(n) -> vs }
      writeManifest(fs, path, StoreFamily, startV, all) // the commit point
    }
    // retire the per-dataDir families (also the crash-after-commit
    // cleanup path): the unified manifest took precedence the instant
    // it committed, and nextGen never consults these
    dataDirs.foreach { d =>
      manifests(fs, path, d).foreach { case (_, p) => fs.delete(p, false) }
    }
    fs.mkdirs(versionsDir(path))
  }

  /** Run `body` as ONE composite commit of a unified store: every
    * versioned mutation inside it (staged rewrites, appends, ledger
    * acks — across ANY of the store's dataDirs) accumulates into one
    * pending entry map that publishes as a single `store.v<N+1>`
    * manifest rename when `body` returns. A crash or exception
    * anywhere inside leaves the store AT ITS PRE-TXN VERSION — the
    * staged generation dirs are unreferenced orphans reclaimed by the
    * next commit's GC. Mutations inside the txn read their own
    * pending writes (a composed ingest's band merge reads the
    * signatures its first step merged); other threads keep resolving
    * the committed manifest. Reentrant; requires the unified
    * protocol. */
  def transact[T](spark: SparkSession, path: String)(body: => T): T =
    withLease(spark, path) {
      if (activeTxn.get.contains(path)) body
      else {
        recover(spark, path)
        require(isUnified(spark, path),
          s"$path is not a unified-manifest store — migrate with" +
            " unifyVersioning before using composite transactions")
        val (baseV, entries) = latestUnifiedRaw(spark, path)
          .getOrElse((-1, Map.empty[String, Seq[Long]]))
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
        if (t.dirty) {
          val fs = fsOf(spark, versionsDir(path))
          writeManifest(fs, path, StoreFamily, baseV + 1, t.entries)
          gcUnified(spark, fs, path)
        }
        result
      }
    }

  /** Run `body` as ONE composite commit when the store is unified —
    * the wrapper every multi-swap mutation (forget across data +
    * sidecar, band merge across index + inventory, refit across
    * delete/append/codebook/codes) puts around its sequence so unified
    * stores get reader-atomic, single-version semantics for the WHOLE
    * operation, while per-dataDir stores keep their documented
    * crash-atomic-per-swap + idempotent-re-run contract. Reentrant
    * (an enclosing [[transact]] absorbs it). */
  def atomicallyIfUnified[T](spark: SparkSession, path: String)
                            (body: => T): T =
    if (isUnified(spark, path)) transact(spark, path)(body) else body

  /** [[withLease]] + [[atomicallyIfUnified]] — the standard bracket of
    * a multi-swap store mutation. Bodies with early `return`: safe
    * only while every such return precedes the first manifest mutation
    * — [[transact]] now DETECTS a non-local return unwinding a dirty
    * txn and fails loudly instead of silently dropping the work. */
  def withLeaseAtomic[T](spark: SparkSession, path: String)
                        (body: => T): T =
    withLease(spark, path) { atomicallyIfUnified(spark, path)(body) }

  /** Next free generation number for `dataDir` — strictly above every
    * gen any RETAINED unified manifest references, the current (txn)
    * view references, or that exists on disk (orphans of crashed
    * commits must not be reused while a reader could still list
    * them). */
  private def nextGen(fs: FileSystem, path: String, dataDir: String,
                      current: Map[String, Seq[Long]]): Long = {
    val pfx = dataDir + "/"
    val fromManifests = manifests(fs, path, StoreFamily)
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

  /** The unified commit: rename staged buckets in as a fresh
    * generation of `dataDir`, fold the dataDir's entry updates into
    * the store-wide map, publish (or defer to the open txn). Same
    * append/replace/touched semantics as the per-dataDir commit,
    * scoped to the dataDir's slice. */
  private def commitUnified(spark: SparkSession, path: String,
                            dataDir: String, stg: Path,
                            stagedBuckets: Set[String],
                            touchedDirs: Set[String],
                            replaceAll: Boolean,
                            append: Boolean,
                            batchRecord: Option[Long]): Unit = {
    val fs = fsOf(spark, stg)
    val txnOpt = activeTxn.get.get(path)
    val (baseV, all0) = txnOpt.map(t => (t.baseV, t.entries))
      .orElse(latestUnifiedRaw(spark, path))
      .getOrElse((-1, Map.empty[String, Seq[Long]]))
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
    val entries =
      if (append)
        all0 ++ stagedP.map(d => d -> (all0.getOrElse(d, Seq.empty) :+ gen))
      else
        (if (replaceAll) all0.filter { case (k, _) => !k.startsWith(pfx) }
         else all0 -- touchedDirs.map(pfx + _)) ++
          stagedP.map(_ -> Seq(gen))
    val withLedger = batchRecord match {
      case Some(id) =>
        val bk = unifiedBatchesKey(dataDir)
        // seed from the legacy store-wide key when the namespaced one
        // doesn't exist yet (store unified before the ledger was
        // namespaced): the first post-upgrade ack migrates the window
        // into the namespaced key. The legacy key stays — it may still
        // be another dataDir's only ledger until ITS first ack.
        val prior = all0.getOrElse(bk,
          all0.getOrElse(BatchesKey, Seq.empty))
        entries + (bk ->
          ((prior :+ id).distinct.takeRight(BatchLedgerKeep)))
      case None => entries
    }
    txnOpt match {
      case Some(t) =>
        t.entries = withLedger
        t.dirty = true
      case None =>
        writeManifest(fs, path, StoreFamily, baseV + 1, withLedger)
        gcUnified(spark, fs, path)
    }
  }

  /** Unified-mode GC: drop store manifests beyond the grace window,
    * then, PER dataDir the kept manifests reference, delete
    * unreferenced generation dirs. Gens roots of dataDirs NO kept
    * manifest mentions are left alone — they belong to other
    * protocols (the PQ sidecar's own family) or to an open txn. */
  private def gcUnified(spark: SparkSession, fs: FileSystem,
                        path: String): Unit = {
    val keep = snapshotKeep(spark)
    val all = manifests(fs, path, StoreFamily)
    all.dropRight(keep + 1).foreach { case (_, p) => fs.delete(p, false) }
    val kept = manifests(fs, path, StoreFamily).map { case (_, p) =>
      readManifest(fs, p) }
    // NOTE: each manifest map must be flattened to a Seq BEFORE
    // collecting (dataDir, gens) pairs — collect on a Map would key the
    // result by dataDir and silently keep ONE bucket's gens per dir
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

  /** Whether THIS dataDir of the store commits through manifests: it
    * has one, or the store is versioned and the dataDir has no legacy
    * live dir (fresh dataDirs of a versioned store start versioned).
    * Per-dataDir, because a versioned store may deliberately keep a
    * dataDir on another protocol — the PQ sidecar's three artifacts
    * swap together under `_pending_pq`, and splitting `pq_codes` into
    * a manifest would break exactly the split-brain guarantee that
    * protocol exists for. */
  def dataDirVersioned(spark: SparkSession, path: String,
                       dataDir: String): Boolean = {
    if (!isVersioned(spark, path)) return false
    if (latestSnapshot(spark, path, dataDir).isDefined) return true
    val live = new Path(s"$path/$dataDir")
    !fsOf(spark, live).exists(live)
  }

  /** `$path/$dataDir` as a DataFrame under its commit protocol:
    * manifest-resolved snapshot (versioned) or live-dir listing
    * (legacy). Filters on `partCol` prune files in both modes. */
  def readDir(spark: SparkSession, path: String, dataDir: String,
              partCol: String): DataFrame =
    if (dataDirVersioned(spark, path, dataDir))
      readVersioned(spark, path, dataDir, partCol)
    else spark.read.parquet(s"$path/$dataDir")

  /** Whether `dataDir` exists under either protocol. */
  def dirExists(spark: SparkSession, path: String,
                dataDir: String): Boolean =
    if (dataDirVersioned(spark, path, dataDir))
      latestSnapshot(spark, path, dataDir).isDefined
    else {
      val p = new Path(s"$path/$dataDir")
      fsOf(spark, p).exists(p)
    }

  /** Full write of a store dataDir under the store's protocol
    * (`forceVersioned` starts a versioned dataDir). */
  def overwriteDir(spark: SparkSession, path: String, dataDir: String,
                   partCol: String, df: DataFrame, sortCols: Seq[Column],
                   forceVersioned: Boolean = false): Unit =
    if (forceVersioned || dataDirVersioned(spark, path, dataDir))
      versionedOverwrite(spark, path, partCol, df, sortCols, dataDir)
    else df
      .repartition(col(partCol))
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(s"$path/$dataDir")

  /** APPEND a delta to a store dataDir under its protocol. Versioned:
    * the staged delta becomes a new generation ADDED to its buckets'
    * generation lists (reads union a bucket's gens), one manifest
    * rename — reader-atomic like every versioned commit, and
    * delta-footprint (untouched buckets' files never open). Legacy:
    * a plain append write (new files land in live bucket dirs). */
  /** @param batchId idempotent-replay key for streaming ingest
    *                 (versioned dataDirs only): the id is recorded in
    *                 the SAME manifest rename that publishes the data,
    *                 so "rows visible" and "batch acknowledged" cannot
    *                 diverge across a crash — and a redelivered batch
    *                 (Structured Streaming's at-least-once foreachBatch
    *                 contract after an unacknowledged epoch) is
    *                 detected by [[committedBatches]] and skipped
    *                 WITHOUT evaluating the DataFrame. That makes the
    *                 sink exactly-once end-to-end. Legacy (unversioned)
    *                 appends have no atomic data+ledger commit to offer
    *                 and refuse the parameter. */
  def appendDir(spark: SparkSession, path: String, dataDir: String,
                partCol: String, df: DataFrame,
                sortCols: Seq[Column],
                batchId: Option[Long] = None): Unit =
    if (dataDirVersioned(spark, path, dataDir)) withLease(spark, path) {
      if (batchId.exists(committedBatches(spark, path, dataDir).contains))
        return // replayed micro-batch: already durably committed
      val stg = staging(path)
      val fs = fsOf(spark, stg)
      if (fs.exists(stg)) fs.delete(stg, true)
      df.repartition(col(partCol))
        .sortWithinPartitions(sortCols: _*)
        .write.partitionBy(partCol).parquet(stg.toString)
      val stagedBuckets = fs.listStatus(stg)
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(partCol + "="))
        .map(_.getPath.getName).toSet
      commitVersioned(spark, path, dataDir, stg, stagedBuckets,
        touchedDirs = Set.empty, replaceAll = false, append = true,
        batchRecord = batchId)
    }
    else {
      require(batchId.isEmpty, s"$path/$dataDir is not versioned:" +
        " exactly-once batch tracking needs the manifest commit" +
        " protocol (writeStandingStore/writeSignatureStore with" +
        " versioned = true)")
      df.repartition(col(partCol))
        .sortWithinPartitions(sortCols: _*)
        .write.mode("append").partitionBy(partCol)
        .parquet(s"$path/$dataDir")
    }

  /** Streaming batch ids already committed into a versioned `dataDir`
    * — the tail window of [[BatchLedgerKeep]] most-recent ids, read
    * from the latest manifest (one file read, atomic with the data it
    * acknowledges). */
  def committedBatches(spark: SparkSession, path: String,
                       dataDir: String): Set[Long] =
    (if (isUnified(spark, path))
       // per-dataDir namespaced ledger: two dataDirs tracking
       // independent streams with overlapping batch ids must not
       // alias. Fall back to the legacy store-wide key for stores
       // unified before the namespacing (same window, pre-upgrade).
       unifiedView(spark, path).map(_._2)
         .flatMap(m => m.get(unifiedBatchesKey(dataDir))
           .orElse(m.get(BatchesKey)))
     else latestSnapshot(spark, path, dataDir).map(_._2)
       .flatMap(_.get(BatchesKey)))
      .map(_.toSet)
      .getOrElse(Set.empty)

  /** ACK-ONLY ledger commit for a versioned dataDir: record `batchId`
    * as committed WITHOUT publishing data — the second exactly-once
    * pattern this protocol supports. [[appendDir]]'s atomic
    * data+ledger rename fits a single-relation sink; a COMPOSED
    * mutation (the text lifecycle's signature + shingle + band-index
    * merges) instead makes each step idempotent and acks LAST: a
    * crash anywhere before the ack re-runs every step on redelivery
    * (each converges to the same state), a crash after it skips the
    * batch outright. One manifest rename, same ledger, same
    * [[committedBatches]] lookup. */
  def ackBatch(spark: SparkSession, path: String, dataDir: String,
               batchId: Long): Unit = withLease(spark, path) {
    require(dataDirVersioned(spark, path, dataDir),
      s"$path/$dataDir is not versioned: the batch ledger needs the" +
        " manifest commit protocol")
    if (committedBatches(spark, path, dataDir).contains(batchId)) return
    commitVersioned(spark, path, dataDir, staging(path),
      stagedBuckets = Set.empty, touchedDirs = Set.empty,
      replaceAll = false, append = true, batchRecord = Some(batchId))
  }

  private val BatchesKey = "#batches"

  /** Unified-manifest ledger key for one dataDir's batch stream. The
    * per-dataDir protocol keys its ledger `#batches` inside the
    * dataDir's own manifest; the unified manifest is store-wide, so
    * the dataDir goes INTO the key — a migrated store's streams stay
    * as independent as they were before migration. */
  private def unifiedBatchesKey(dataDir: String): String =
    s"$BatchesKey:$dataDir"

  /** Record model/layout constants as a reserved `#meta:<name>` entry
    * of the unified manifest, so the constants VERSION WITH the data
    * they describe: a historical (as-of) reader resolves them from the
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
    val keyed = meta.map { case (n, vs) => storeMetaKey(n) -> vs }
    val txnOpt = activeTxn.get.get(path)
    val (baseV, all0) = txnOpt.map(t => (t.baseV, t.entries))
      .orElse(latestUnifiedRaw(spark, path))
      .getOrElse((-1, Map.empty[String, Seq[Long]]))
    txnOpt match {
      case Some(t) =>
        t.entries = all0 ++ keyed
        t.dirty = true
      case None =>
        val fs = fsOf(spark, versionsDir(path))
        writeManifest(fs, path, StoreFamily, baseV + 1, all0 ++ keyed)
        gcUnified(spark, fs, path)
    }
  }

  /** The `#meta:<name>` constants at a pinned manifest `version`, or
    * the current view when `version` is None. None when the manifest
    * predates the first [[putStoreMeta]] of this name (or the store is
    * not unified) — the caller decides whether a live-sidecar fallback
    * is safe. `whenAbsent = latest-recorded-check`: see
    * [[storeMetaRecordedEver]]. */
  def storeMetaAt(spark: SparkSession, path: String, name: String,
                  version: Option[Int] = None): Option[Seq[Long]] = {
    if (!isUnified(spark, path)) return None
    val key = storeMetaKey(name)
    version match {
      case Some(v) =>
        val fs = fsOf(spark, versionsDir(path))
        manifests(fs, path, StoreFamily)
          .collectFirst { case (mv, p) if mv == v => readManifest(fs, p) }
          .flatMap(_.get(key))
      case None => unifiedView(spark, path).flatMap(_._2.get(key))
    }
  }

  /** Whether ANY retained manifest carries `#meta:<name>` — the
    * postdating check: a pinned version WITHOUT the record while a
    * later retained version HAS it proves the constants were
    * (re)recorded after the pin, so a live-sidecar fallback could
    * apply post-pin constants to pinned data. */
  def storeMetaRecordedEver(spark: SparkSession, path: String,
                            name: String): Boolean = {
    if (!isUnified(spark, path)) return false
    val key = storeMetaKey(name)
    val fs = fsOf(spark, versionsDir(path))
    manifests(fs, path, StoreFamily)
      .exists { case (_, p) => readManifest(fs, p).contains(key) }
  }

  private def storeMetaKey(name: String): String = s"#meta:$name"

  /** How many trailing batch ids the ledger retains. Structured
    * Streaming redelivers at most the batches after the last epoch the
    * sink acknowledged — in practice the immediately preceding one —
    * so a short tail is ample; a bounded ledger keeps the manifest
    * O(buckets), not O(stream lifetime). */
  val BatchLedgerKeep: Int = 64

  /** Manifest entry keys starting with `#` are RESERVED metadata, not
    * bucket directories: `#batches` carries the tail of streaming batch
    * ids already committed into the dataDir (the idempotent-replay
    * ledger). Reads and generation GC must skip them. */
  private def isReservedKey(k: String): Boolean = k.startsWith("#")

  /** Parsed manifests for `dataDir`, ascending by version. */
  private def manifests(fs: FileSystem, path: String,
                        dataDir: String): Seq[(Int, Path)] = {
    val vd = versionsDir(path)
    if (!fs.exists(vd)) return Seq.empty
    val prefix = dataDir + ".v"
    fs.listStatus(vd).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap(p => p.getName.stripPrefix(prefix).toIntOption.map(_ -> p))
      .sortBy(_._1)
  }

  /** Manifest values are LONGS: generation numbers fit comfortably in
    * Int, but the `#batches` ledger shares this value slot and
    * Structured Streaming batch ids are unbounded longs — a stream
    * past 2^31 batches must keep committing, not throw. */
  private def readManifest(fs: FileSystem, p: Path): Map[String, Seq[Long]] = {
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    body.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val Array(dir, gens) = line.split("\\|", 2)
      dir -> gens.split(",").toSeq.map(_.toLong)
    }.toMap
  }

  /** The latest committed (version, bucketDir → gens) snapshot of
    * `dataDir`, or None when no manifest has ever committed (unified
    * stores: None when the unified manifest holds no bucket entry for
    * the dataDir — "this dataDir was never written"). Inside an open
    * [[transact]] the txn's pending view is returned. */
  def latestSnapshot(spark: SparkSession, path: String,
                     dataDir: String): Option[(Int, Map[String, Seq[Long]])] =
    if (isUnified(spark, path))
      unifiedView(spark, path)
        .map { case (v, all) => (v, sliceDataDir(all, dataDir)) }
        .filter(_._2.keys.exists(k => !isReservedKey(k)))
    else {
      val fs = fsOf(spark, versionsDir(path))
      manifests(fs, path, dataDir).lastOption
        .map { case (v, p) => (v, readManifest(fs, p)) }
    }

  private def writeManifest(fs: FileSystem, path: String, dataDir: String,
                            v: Int, entries: Map[String, Seq[Long]]): Unit = {
    fs.mkdirs(versionsDir(path))
    val tmp = new Path(path + s"/_v/.${dataDir}.v$v.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (d, gs) => s"$d|${gs.sorted.mkString(",")}" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(path + s"/_v/$dataDir.v$v")
    if (fs.exists(dst) || !fs.rename(tmp, dst))
      sys.error(s"could not commit manifest $dst — concurrent mutator?")
  }

  /** Resolved leaf-dir paths of a snapshot, grouped by generation (one
    * group per basePath for partition-column inference), restricted to
    * `buckets` when given. */
  private def snapshotDirs(path: String, dataDir: String,
                           entries: Map[String, Seq[Long]],
                           partCol: String,
                           buckets: Option[Seq[Int]]): Seq[(String, Seq[String])] = {
    val want = buckets.map(_.map(b => s"$partCol=$b").toSet)
    entries.toSeq
      .filter { case (d, _) => !isReservedKey(d) && want.forall(_.contains(d)) }
      .flatMap { case (d, gens) => gens.map(g => g -> d) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (g, ds) =>
        (s"$path/$dataDir.gens/g$g",
          ds.map { case (_, d) => s"$path/$dataDir.gens/g$g/$d" }.sorted)
      }
  }

  /** Snapshot read of a versioned `dataDir` — resolves the latest
    * committed manifest ONCE (atomic), reads only the referenced (and,
    * with `buckets`, requested) immutable dirs. The plan never lists
    * the live tree, so a concurrent mutation is invisible to it: old
    * snapshot until the commit, new snapshot after, never a missing
    * bucket. */
  def readVersioned(spark: SparkSession, path: String, dataDir: String,
                    partCol: String,
                    buckets: Option[Seq[Int]] = None): DataFrame = {
    val (_, entries) = latestSnapshot(spark, path, dataDir).getOrElse(
      sys.error(s"$path/$dataDir has no committed manifest — not a" +
        " versioned store dataDir (or never written)"))
    readEntries(spark, path, dataDir, partCol, entries, buckets)
  }

  /** The RETAINED manifest versions of `dataDir`, ascending — the
    * time-travel horizon. Commits GC manifests beyond the
    * `graft.store.snapshotKeep` grace window, so this is a sliding
    * window ending at the live version, not unbounded history; raise
    * the knob BEFORE the mutations whose pre-states must stay
    * readable. */
  def snapshotVersions(spark: SparkSession, path: String,
                       dataDir: String): Seq[Int] =
    manifests(fsOf(spark, versionsDir(path)), path,
      if (isUnified(spark, path)) StoreFamily else dataDir).map(_._1)

  /** TIME-TRAVEL read: the snapshot of `dataDir` AS OF committed
    * `version` — same single-manifest-resolution guarantee as
    * [[readVersioned]], against a historical manifest instead of the
    * latest. The generations a retained manifest references are kept
    * by GC exactly as long as the manifest itself, so a version listed
    * by [[snapshotVersions]] is fully readable. Reading a GC'd version
    * fails fast naming the retained window. */
  def readVersionedAt(spark: SparkSession, path: String, dataDir: String,
                      partCol: String, version: Int,
                      buckets: Option[Seq[Int]] = None): DataFrame = {
    val fs = fsOf(spark, versionsDir(path))
    val unified = isUnified(spark, path)
    val family = if (unified) StoreFamily else dataDir
    val all = manifests(fs, path, family)
    val p = all.collectFirst { case (v, mp) if v == version => mp }
      .getOrElse {
        val cutoverHint =
          if (unified && all.headOption.exists(version < _._1))
            " — it was either GC'd past graft.store.snapshotKeep or" +
              " PREDATES this store's unifyVersioning cutover" +
              " (per-dataDir history does not carry across migration;" +
              " the unified numbering starts above every pre-migration" +
              " version so old numbers fail here instead of aliasing." +
              " Runbook: restore from archive or re-run the producing" +
              " mutation)"
          else
            " (raise graft.store.snapshotKeep before mutating to widen" +
              " the time-travel window)"
        sys.error(s"$path/$dataDir has no retained manifest" +
          s" v$version — retained: ${all.map(_._1).mkString(",")}" +
          cutoverHint)
      }
    val entries =
      if (unified) sliceDataDir(readManifest(fs, p), dataDir)
      else readManifest(fs, p)
    readEntries(spark, path, dataDir, partCol, entries, buckets)
  }

  /** The bucket-dir → generation-list entries of a RETAINED manifest
    * version (reserved ledger keys excluded) — the metadata a
    * manifest-pruned diff compares: generations are immutable once
    * committed, so two versions' entries being EQUAL for a bucket
    * proves its files (hence rows) are byte-identical without opening
    * them. */
  def snapshotEntriesAt(spark: SparkSession, path: String,
                        dataDir: String,
                        version: Int): Map[String, Seq[Long]] = {
    val fs = fsOf(spark, versionsDir(path))
    val unified = isUnified(spark, path)
    val family = if (unified) StoreFamily else dataDir
    val all = manifests(fs, path, family)
    val p = all.collectFirst { case (v, mp) if v == version => mp }
      .getOrElse(sys.error(s"$path/$dataDir has no retained manifest" +
        s" v$version — retained: ${all.map(_._1).mkString(",")}"))
    val raw = readManifest(fs, p)
    (if (unified) sliceDataDir(raw, dataDir) else raw)
      .filter { case (k, _) => !isReservedKey(k) }
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

  /** Switch a store's `dataDirs` (name → partition column) to the
    * versioned-manifest commit protocol: each existing legacy dir
    * becomes generation 0 (one rename) under a v0 manifest; dirs that
    * don't exist yet simply start versioned on first write. Legacy
    * sidecar files (meta, codebooks) are untouched — they are
    * write-once model state. Existing legacy stores keep working
    * unconverted; versioning is opt-in per store. */
  def enableVersioning(spark: SparkSession, path: String,
                       dataDirs: Seq[String]): Unit = withLease(spark, path) {
    recover(spark, path) // nothing legacy may stay half-swapped behind
    val fs = fsOf(spark, versionsDir(path))
    dataDirs.foreach { dataDir =>
      val live = new Path(s"$path/$dataDir")
      if (fs.exists(live) && manifests(fs, path, dataDir).isEmpty) {
        val g0 = new Path(s"$path/$dataDir.gens/g0")
        fs.mkdirs(g0.getParent)
        if (!fs.rename(live, g0))
          sys.error(s"could not migrate $live to $g0")
        val entries = fs.listStatus(g0)
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .map(_.getPath.getName -> Seq(0L)).toMap
        writeManifest(fs, path, dataDir, 0, entries)
      }
    }
    fs.mkdirs(versionsDir(path)) // the mode marker, even if all-empty
  }

  /** How many PRIOR manifests (and their gens) each commit preserves —
    * the reader grace window. */
  private def snapshotKeep(spark: SparkSession): Int =
    spark.conf.getOption("graft.store.snapshotKeep")
      .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(1)

  /** The versioned commit: rename staged buckets in as generation
    * v+1, publish manifest v+1 derived from v by `remap`, GC what no
    * kept manifest references. Returns nothing the caller needs —
    * `stagedRewrite` wraps it. */
  private def commitVersioned(spark: SparkSession, path: String,
                              dataDir: String, stg: Path,
                              stagedBuckets: Set[String],
                              touchedDirs: Set[String],
                              replaceAll: Boolean,
                              append: Boolean = false,
                              batchRecord: Option[Long] = None): Unit = {
    if (isUnified(spark, path)) {
      commitUnified(spark, path, dataDir, stg, stagedBuckets, touchedDirs,
        replaceAll, append, batchRecord)
      return
    }
    val fs = fsOf(spark, stg)
    val prev = latestSnapshot(spark, path, dataDir)
    val v1 = prev.map(_._1 + 1).getOrElse(0)
    val gDir = new Path(s"$path/$dataDir.gens/g$v1")
    fs.mkdirs(gDir.getParent)
    // a gen dir at v1 with no manifest v1 is an orphan of a crashed
    // commit (the manifest rename never happened) — reclaim it
    if (fs.exists(gDir)) fs.delete(gDir, true)
    if (stagedBuckets.nonEmpty && !fs.rename(stg, gDir))
      sys.error(s"could not commit staged generation $gDir")
    val prevEntries = prev.map(_._2).getOrElse(Map.empty)
    val entries =
      if (append) // the new gen EXTENDS its buckets' gen lists
        prevEntries ++ stagedBuckets.map(d =>
          d -> (prevEntries.getOrElse(d, Seq.empty) :+ v1.toLong))
      else
        // replaceAll drops every BUCKET entry but carries the reserved
        // metadata keys (#batches) through: a mid-stream full rewrite
        // (refit, sidecar rebuild) must not amnesia the exactly-once
        // ledger, or a batch redelivered after the rewrite re-applies
        (if (replaceAll) prevEntries.filter { case (k, _) => isReservedKey(k) }
         else prevEntries -- touchedDirs) ++
          stagedBuckets.map(_ -> Seq(v1.toLong))
    // the batch ledger rides the same manifest rename as the data it
    // acknowledges — exactly-once hinges on that atomicity
    val withLedger = batchRecord match {
      case Some(id) =>
        entries + (BatchesKey ->
          ((prevEntries.getOrElse(BatchesKey, Seq.empty) :+ id)
            .distinct.takeRight(BatchLedgerKeep)))
      case None => entries
    }
    writeManifest(fs, path, dataDir, v1, withLedger)
    // GC: drop manifests older than the grace window, then gens no
    // kept manifest references. Both the live-gen set and the deletion
    // root are scoped to THIS dataDir — each dataDir has its own .gens
    // root and manifest family, so gen numbers are only meaningful
    // per-dataDir.
    val keep = snapshotKeep(spark)
    val all = manifests(fs, path, dataDir)
    all.dropRight(keep + 1).foreach { case (_, p) => fs.delete(p, false) }
    val kept = manifests(fs, path, dataDir).map { case (_, p) =>
      readManifest(fs, p) }
    // reserved entries (#batches) carry batch ids, not generation
    // numbers — including them would pin unrelated gens forever
    val live = kept.flatMap(_.collect {
      case (d, gs) if !isReservedKey(d) => gs
    }.flatten).toSet
    val gensRoot = new Path(s"$path/$dataDir.gens")
    if (fs.exists(gensRoot))
      fs.listStatus(gensRoot)
        .map(_.getPath)
        .filter(p => p.getName.startsWith("g") &&
          p.getName.stripPrefix("g").toLongOption.exists(!live.contains(_)))
        .foreach(p => fs.delete(p, true))
  }

  /** Full-overwrite write of a versioned `dataDir`: stage the whole
    * relation, commit it as the next generation REPLACING every prior
    * entry — the versioned twin of the legacy writers'
    * `mode("overwrite").partitionBy(...)`. Readers snapshotted on the
    * old manifest keep their gens through the grace window. */
  def versionedOverwrite(spark: SparkSession, path: String,
                         partCol: String, df: DataFrame,
                         sortCols: Seq[Column],
                         dataDir: String): Unit = withLease(spark, path) {
    val stg = staging(path)
    val fs = fsOf(spark, stg)
    if (fs.exists(stg)) fs.delete(stg, true)
    df.repartition(col(partCol))
      .sortWithinPartitions(sortCols: _*)
      .write.partitionBy(partCol).parquet(stg.toString)
    val stagedBuckets = fs.listStatus(stg)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map(_.getPath.getName).toSet
    commitVersioned(spark, path, dataDir, stg, stagedBuckets,
      touchedDirs = Set.empty, replaceAll = true)
  }

  /** The post-commit half: swap surviving buckets in (one atomic rename
    * each), drop emptied buckets' live directories, then clear the
    * manifest and staging remnants. Idempotent — re-runnable after a
    * crash at any point. */
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
