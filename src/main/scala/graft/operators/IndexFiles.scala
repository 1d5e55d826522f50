package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Compact `dir/ids` sidecar shared by the persisted IVF and minhash
  * indexes: one row per indexed doc id, written at build and extended
  * at append, so the append-time replayed-id guard scans O(corpus docs)
  * of bare ids instead of the index's payload tables (full-width cell
  * rows for IVF; doc-shingle pairs — many× corpus rows — for minhash).
  * At 100 TB that turns the guard from an O(history-payload) scan per
  * append into a read of the smallest column the index owns, and the
  * sidecar's byte size is what a daily append actually touches.
  *
  * Indexes built before the sidecar existed are backfilled lazily:
  * [[ensureIds]] materializes the fallback projection once on the first
  * append, then every later guard reads the sidecar.
  */
private[graft] object IndexFiles {

  /** Hash-route rows to writer tasks ahead of a hive partitionBy write
    * (guide §6: unrouted, every task writes a sliver into every
    * partition dir it touches — tasks×buckets tiny files). Default:
    * one writer task per partition tuple, the
    * write.distribution-mode=hash shape with bounded file counts.
    * `graft.write.saltBuckets` (session conf, default 1) adds a
    * deterministic row-hash salt with N values so a HOT partition can
    * fan out across up to N writer tasks on a real cluster — a bare
    * repartition(cols) is a strict hash requirement AQE cannot split,
    * so a skewed bucket otherwise funnels through one straggler task
    * (ADVICE r19). The salt derives from xxhash64 of the row's
    * columns, never rand(): a re-run map task must reproduce the same
    * row-to-partition assignment or a fetch-failure retry duplicates/
    * loses rows (SPARK-38388). Locally the default 1 keeps one file
    * per partition dir and the layout identical to repartition(cols). */
  def routeForWrite(df: DataFrame, cols: String*): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val n = df.sparkSession.conf.get("graft.write.saltBuckets", "1").toInt
    require(n >= 1, s"graft.write.saltBuckets must be >= 1: $n")
    if (n == 1) df.repartition(cols.map(col): _*)
    else df.repartition(
      cols.map(col) :+ pmod(xxhash64(df.columns.map(col): _*), lit(n)): _*)
  }

  /** `df.routeForWrite("hb")` sugar for the 27 pre-write call sites. */
  implicit class WriteRouting(private val df: DataFrame) extends AnyVal {
    def routeForWrite(cols: String*): DataFrame =
      IndexFiles.routeForWrite(df, cols: _*)
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/ids")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Spark's listing filter: `_`-prefixed names other than `k=v`
    * partition dirs, `.`-prefixed names and in-flight copies are not
    * table data. */
  private def hiddenName(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** `p`'s listing, empty when `p` does not exist. */
  private def listOrEmpty(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The data file whose path string sorts first among a directory
    * listing's leaves — the one Spark's parquet schema inference reads.
    * Entries are visited in the order of their leaves' paths (a
    * directory's leaves all start with its path plus `/`), so the first
    * file found is the minimum and one listing per level suffices. */
  private def firstDataFile(fs: org.apache.hadoop.fs.FileSystem,
      listing: Seq[org.apache.hadoop.fs.FileStatus])
      : Option[org.apache.hadoop.fs.FileStatus] =
    listing.filterNot(st => hiddenName(st.getPath.getName))
      .sortBy(st => st.getPath.toString + (if (st.isDirectory) "/" else ""))
      .iterator
      .flatMap(st =>
        if (st.isDirectory) firstDataFile(fs, fs.listStatus(st.getPath).toSeq)
        else Iterator(st))
      .nextOption()

  /** Read a parquet table without Spark's schema-inference job: the data
    * schema comes from one footer read on the driver — the file and the
    * conversion Spark's inference would use
    * ([[org.apache.spark.sql.graft.FooterSchema]]) — and partition
    * columns are still inferred from the directory names, so the
    * resulting schema equals `spark.read.parquet(path).schema`. A path
    * with no data files (missing, or an all-filtered partitioned table)
    * or with parquet summary files goes through plain
    * `spark.read.parquet`, keeping its errors. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = listOrEmpty(fs, root)
    val summaries = top.exists(st =>
      Set("_metadata", "_common_metadata").contains(st.getPath.getName))
    (if (summaries) None else firstDataFile(fs, top)) match {
      case Some(f) => spark.read
        .schema(org.apache.spark.sql.graft.FooterSchema.read(spark, f))
        .parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Driver-side codebook cache: qualified `centroids` path → (the part
    * files' (name, length, mtime), codebook). One entry per index, so a
    * long-lived driver holds at most one codebook per index directory. */
  private val codebooks = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long, Long)], Array[Array[Double]])]()

  /** The coarse codebook of an IVF-family index, `dir/centroids` as
    * rows indexed by cell. Cached per generation: the key is the table's
    * part files' names, lengths and mtimes, and every build or retrain
    * writes fresh UUID-named part files, so any rewrite misses the cache
    * and replaces the entry. A hit costs one listing and no Spark job.
    * Empty for an empty table; callers must not mutate the arrays. */
  def codebook(spark: SparkSession, dir: String): Array[Array[Double]] = {
    val fs = fsOf(spark, dir)
    val path = fs.makeQualified(new Path(s"$dir/centroids"))
    val parts = listOrEmpty(fs, path)
      .filterNot(st => hiddenName(st.getPath.getName))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sorted
    Option(codebooks.get(path.toString)).filter(_._1 == parts).map(_._2)
      .getOrElse {
        val rows = read(spark, path.toString).select("cell", "cv").collect()
          .sortBy(_.getInt(0))
        require(rows.map(_.getInt(0)).toSeq == rows.indices,
          s"$path cells are not 0..${rows.length - 1}")
        val cb = rows.map(_.getSeq[Double](1).toArray)
        if (parts.nonEmpty) codebooks.put(path.toString, (parts, cb))
        cb
      }
  }

  /** Empty the codebook cache (specs compare against a cold read). */
  private[graft] def clearCodebookCache(): Unit = codebooks.clear()

  /** Per-table staging dir for [[appendStaged]] — INSIDE the live table
    * but underscore-prefixed, so every Spark read of the table ignores
    * it while the batch is being written. */
  private val StagingName = "_append_tmp"

  /** The append journal: its EXISTENCE (created by atomic rename only
    * after every staged table finished writing) is the commit point
    * that flips recovery from roll-back to roll-forward; its content is
    * the batch's id rows, from which an interrupted sidecar extension
    * is replayed idempotently. */
  private val JournalName = "_pending_append"
  private val JournalTmp = "_pending_append_tmp"

  /** Move a completed staging dir's data files into the live table,
    * preserving partition subpaths. Idempotent: files already moved by
    * an interrupted earlier pass are skipped (part-file names carry
    * fresh UUIDs, so an existing destination can only BE this batch's
    * own file). */
  private def moveStagedIn(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String): Unit = {
    val staging = new Path(s"$tableDir/$StagingName")
    if (!fs.exists(staging)) return
    // listStatus returns scheme-qualified paths — qualify the prefix the
    // same way or the relativization silently yields absolute paths
    // (dest == source, "already moved", batch deleted with the staging)
    val prefix = fs.makeQualified(staging).toString + "/"
    val liveDir = fs.makeQualified(new Path(tableDir))
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (!st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")) {
        val full = fs.makeQualified(st.getPath).toString
        require(full.startsWith(prefix), s"staged file $full outside $prefix")
        val rel = full.stripPrefix(prefix)
        val dest = new Path(liveDir, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.exists(dest))
          require(fs.rename(st.getPath, dest), s"move ${st.getPath} -> $dest failed")
      }
    }
    walk(staging)
    require(fs.delete(staging, true), s"delete staging $staging failed")
  }

  /** Repair an interrupted [[appendStaged]] under `dir` — called at the
    * head of every append (and by the streaming drivers before their
    * witnesses). The journal's existence partitions every crash window
    * into exactly two cases: no journal → staging may be incomplete and
    * nothing is visible yet, so leftovers are discarded (roll BACK);
    * journal present → every staged table was completely written, so
    * the move is finished, the ids sidecar extended with whatever
    * journal ids it is missing, and the journal dropped (roll FORWARD).
    * Idempotent under repeated crashes at any point. Returns true iff a
    * batch was rolled forward — callers with derived artifacts beyond
    * the journaled tables (the sparse index's stats file) re-derive
    * them on true. */
  def healAppend(spark: SparkSession, dir: String,
      tables: Seq[String]): Boolean = {
    val fs = fsOf(spark, dir)
    fs.delete(new Path(s"$dir/$JournalTmp"), true) // never valid, never visible
    val journal = new Path(s"$dir/$JournalName")
    if (fs.exists(journal)) {
      tables.foreach(t => moveStagedIn(fs, s"$dir/$t"))
      val hasIds = fs.listStatus(journal).exists(f =>
        f.isFile && !f.getPath.getName.startsWith("_"))
      if (hasIds && exists(spark, dir)) {
        spark.read.parquet(journal.toString)
          .join(org.apache.spark.sql.functions
            .broadcast(spark.read.parquet(s"$dir/ids")), Seq("id"), "left_anti")
          .write.mode("append").parquet(s"$dir/ids")
      }
      require(fs.delete(journal, true), s"delete journal $journal failed")
      refresh(spark, dir)
      true
    } else {
      tables.foreach { t =>
        val st = new Path(s"$dir/$t/$StagingName")
        if (fs.exists(st)) require(fs.delete(st, true),
          s"discard incomplete staging $st failed")
      }
      false
    }
  }

  /** Crash-safe batch append: write every table's batch slice to its
    * in-table staging dir, commit the batch by renaming the id journal
    * into place (atomic — the one instant the append becomes
    * roll-forward), move the staged files in, extend the ids sidecar
    * from the journal, drop the journal. A job failure anywhere leaves
    * a state [[healAppend]] repairs completely on the next append: the
    * documented half-appended-index window of the bare
    * `write.mode("append")` form is gone. `batchIds` is None for
    * unguarded indexes (LSH) — the journal is then an empty commit
    * marker and no sidecar is touched. Callers run [[healAppend]] and
    * their replayed-id guard BEFORE building the staged frames. */
  def appendStaged(spark: SparkSession, dir: String,
      tables: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])],
      batchIds: Option[DataFrame]): Unit = {
    val fs = fsOf(spark, dir)
    val journal = new Path(s"$dir/$JournalName")
    require(!fs.exists(journal),
      s"append journal $journal already exists — run healAppend first")
    tables.foreach { case (t, df, partCols) =>
      val w = df.write.mode("overwrite")
      (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
        .parquet(s"$dir/$t/$StagingName")
    }
    val tmp = new Path(s"$dir/$JournalTmp")
    batchIds match {
      case Some(ids) => ids.write.mode("overwrite").parquet(tmp.toString)
      case None => fs.mkdirs(tmp)
    }
    require(fs.rename(tmp, journal), s"commit journal $journal failed")
    tables.foreach { case (t, _, _) => moveStagedIn(fs, s"$dir/$t") }
    if (batchIds.isDefined)
      read(spark, journal.toString)
        .write.mode("append").parquet(s"$dir/ids")
    require(fs.delete(journal, true), s"delete journal $journal failed")
    // refresh exactly the mutated table roots, not the whole dir:
    // recacheByPath invalidates every cached plan whose scan root
    // starts with the given path, so a dir-wide refresh used to
    // invalidate (and force a full recompute of) persisted decision
    // frames that only read UNTOUCHED sibling tables (r20 — measured
    // as whole-verdict re-runs inside the sighted appends)
    tables.foreach { case (t, _, _) => refresh(spark, s"$dir/$t") }
    if (batchIds.isDefined) refresh(spark, s"$dir/ids")
  }

  /** Overwrite the sidecar at build time. `ids` must be one row per
    * distinct indexed id. */
  def writeIds(ids: DataFrame, dir: String): Unit =
    ids.write.mode("overwrite").parquet(s"$dir/ids")

  /** Delete one src segment's hive partitions from src-partitioned
    * payload tables — the rolling-window retirement primitive (a
    * bounded-history crawl pipeline retires day k−N when day k lands;
    * also the takedown path for a whole contributed batch). O(segment
    * listing): partition directories are removed, no surviving row is
    * rewritten. Callers heal their family first and rebuild their
    * sidecars after (the family wrappers in [[graft.operators.Dedup]]
    * do both). With `strict` (the default), a src present in no named
    * table is loud — the typo guard; pass strict = false from a
    * scheduled rolling-window job, where an absent segment is the
    * normal footprint of a ZERO-YIELD day (every family's append
    * writes no partitions for an empty batch) and must retire as a
    * no-op, not a crash. With `requireSurvivor` (families whose
    * readers infer schema from the stored files), refuses to delete
    * the last remaining segment of any table — retiring everything is
    * [[dropIndex]]-and-rebuild's job. */
  def retireSrcPartitions(spark: SparkSession, dir: String,
      tables: Seq[String], src: String,
      requireSurvivor: Boolean = true,
      strict: Boolean = true): Boolean =
    retireSrcsPartitions(spark, dir, tables, Seq(src),
      requireSurvivor = requireSurvivor, strict = strict)

  /** The BULK form of [[retireSrcPartitions]]: the whole doomed set is
    * validated BEFORE anything is deleted — every src's presence under
    * `strict`, and the survivor condition against the set as a whole
    * (a table must keep at least one partition NOT in `srcs`; the
    * sequential loop's weaker per-segment check could retire half a
    * catch-up backlog and then refuse, leaving a partial window). One
    * cache flush for the lot. Returns true when anything dropped. */
  def retireSrcsPartitions(spark: SparkSession, dir: String,
      tables: Seq[String], srcs: Seq[String],
      requireSurvivor: Boolean = true,
      strict: Boolean = true): Boolean = {
    srcs.foreach(src => require(src.matches("[A-Za-z0-9._\\-]+"),
      s"src tag '$src' is not a plain partition value — retire by the " +
        "exact tag the append used"))
    require(srcs.distinct.size == srcs.size,
      s"duplicate src tags in ${srcs.mkString(", ")}")
    val fs = fsOf(spark, dir)
    // ONE listing per table feeds both the presence map and the
    // survivor check — per-src fs.exists probes would cost
    // |srcs|×|tables| metadata round trips, the exact backlog case
    // the bulk form is for
    val srcsOf: Map[String, Set[String]] = tables.map { t =>
      val p = new Path(s"$dir/$t")
      t -> (if (!fs.exists(p)) Set.empty[String]
            else fs.listStatus(p).iterator
              .filter(st => st.isDirectory &&
                st.getPath.getName.startsWith("src="))
              .map(_.getPath.getName.stripPrefix("src=")).toSet)
    }.toMap
    val presentBy = srcs.map(src => src ->
      tables.filter(t => srcsOf(t).contains(src)))
    presentBy.foreach { case (src, present) =>
      require(present.nonEmpty || !strict,
        s"src '$src' not present in any of [${tables.mkString(", ")}] " +
          s"under $dir — nothing to retire (a zero-yield day's segment " +
          "writes no partitions; retire it with strict = false)")
    }
    val live = presentBy.filter(_._2.nonEmpty)
    if (live.isEmpty) return false
    // validate EVERY table's survivor condition before deleting ANY
    // partition — a require tripping after earlier tables (or earlier
    // segments) were already deleted would abort mid-retire and leave
    // the family partially retired (orphaned sibling rows, sidecar
    // rebuilds never reached)
    if (requireSurvivor) {
      val doomed = live.map(_._1).toSet
      live.flatMap(_._2).distinct.foreach { t =>
        require(srcsOf(t).exists(s => !doomed.contains(s)),
          s"retiring src(s) ${live.map(_._1).mkString(", ")} would " +
            s"empty $dir/$t — drop and rebuild the index instead")
      }
    }
    live.foreach { case (src, present) => present.foreach { t =>
      require(fs.delete(new Path(s"$dir/$t/src=$src"), true),
        s"delete $dir/$t/src=$src failed")
    } }
    // Deleting a partition directory that a later append may RE-CREATE
    // under the same path is the one lifecycle where stale captured
    // listings can resurface: a still-registered cached plan fragment
    // over this index (a probe's internal persist) sameResult-matches
    // a post-retire query — the index path and schema compare equal,
    // and a rebuilt-then-re-merged bloom can be byte-identical — and
    // recomputing it replays the PRE-retire file listing captured in
    // its relation (FileNotFound at best, resurrected rows at worst).
    // Appends never hit this (they only create new files). Drop the
    // session's dataset cache and the shared listing cache outright;
    // retirement is rare maintenance, the blunt flush is fine.
    spark.catalog.clearCache()
    org.apache.spark.sql.graft.FsCache.invalidate(spark)
    refresh(spark, dir)
    true
  }

  /** The src segment tags currently present in `table` under `dir` —
    * the rolling-window driver's view of its own history (a hive
    * partition listing; no data read). Sorted ascending in NATURAL
    * order — digit runs compare numerically — so every tag scheme this
    * engine generates or documents comes back oldest-first: ISO dates
    * (digit runs are equal-width, natural = lexical), zero-padded
    * sequence numbers, AND the streaming drivers' unpadded per-batch
    * tags (`b2` < `b10`, where plain lexical sorting would retire the
    * NEWEST segments once ten batches exist). Mixing naming schemes in
    * one index (e.g. date tags plus default-"ingest" batch appends) is
    * the caller's responsibility — the window can only order what one
    * scheme makes comparable. */
  def listSrcs(spark: SparkSession, dir: String,
      table: String): Seq[String] = {
    val p = new Path(s"$dir/$table")
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("src="))
      .map(_.getPath.getName.stripPrefix("src="))
      .sorted(naturalOrdering)
  }

  /** The shared segment-retire protocol the id-guarded families run:
    * heal → drop the src partitions → rebuild the ids sidecar from
    * `idsFrom`'s surviving id column → prune tombstones of departed
    * ids → family hook (stats refresh etc.). A protocol fix lands
    * here ONCE; the per-family wrappers keep their own docstrings and
    * any family-specific pre/post steps (exact's bloom rebuild and
    * pair-keyed tombstones, LSH's sidecar-less prune, the dedup
    * families' bloom/df sidecar rebuilds stay custom). */
  def retireSegment(spark: SparkSession, dir: String,
      tables: Seq[String], src: String, strict: Boolean,
      idsFrom: Option[String], after: () => Unit = () => ()): Unit =
    retireSegments(spark, dir, tables, Seq(src), strict, idsFrom, after)

  /** The BULK form of [[retireSegment]] — the whole doomed set drops
    * under one heal / one sidecar rebuild / one tombstone prune / one
    * family hook. A rolling window catching up on N backlogged
    * segments pays the per-retire Spark jobs ONCE instead of N times
    * (the per-segment loop's rebuild cost is quadratic in backlog:
    * each rebuild rescans the surviving history). */
  def retireSegments(spark: SparkSession, dir: String,
      tables: Seq[String], srcs: Seq[String], strict: Boolean,
      idsFrom: Option[String], after: () => Unit = () => ()): Unit = {
    if (srcs.isEmpty) return
    healAppend(spark, dir, tables)
    if (retireSrcsPartitions(spark, dir, tables, srcs, strict = strict)) {
      idsFrom.foreach { t =>
        replaceTable(spark, dir, "ids",
          spark.read.parquet(s"$dir/$t").select("id").distinct(), Seq.empty)
      }
      pruneTombstones(spark, dir)
      after()
    }
  }

  /** Read a payload table projected to `schema`'s columns, or
    * synthesize an EMPTY frame with that schema when the table has
    * ZERO partition directories (an all-filtered build legitimately
    * writes a partitioned table with no partitions — nothing to infer
    * a schema from; the caller supplies the batch-derived id type).
    * Partition columns are projected away either way. */
  def readOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    try read(spark, path).select(
      schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }

  /** Natural (human) ordering: split into digit / non-digit runs,
    * compare digit runs as integers (shorter-after-stripping-zeros
    * first; equal values fall back to the lexical form so ordering is
    * total), non-digit runs lexically. */
  private[graft] val naturalOrdering: Ordering[String] =
    new Ordering[String] {
      private def chunks(s: String): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          val digit = s.charAt(i).isDigit
          var j = i
          while (j < s.length && s.charAt(j).isDigit == digit) j += 1
          out += s.substring(i, j)
          i = j
        }
        out.result()
      }
      def compare(a: String, b: String): Int = {
        val (ca, cb) = (chunks(a), chunks(b))
        var i = 0
        while (i < ca.length && i < cb.length) {
          val (x, y) = (ca(i), cb(i))
          val c =
            if (x.nonEmpty && y.nonEmpty &&
                x.charAt(0).isDigit && y.charAt(0).isDigit) {
              val n = BigInt(x).compare(BigInt(y))
              if (n != 0) n else x.compareTo(y)
            } else x.compareTo(y)
          if (c != 0) return c
          i += 1
        }
        ca.length - cb.length
      }
    }

  /** Retire every APPENDED segment except the newest `keep` — the
    * scheduled rolling-window maintenance call ("near-dup/boilerplate
    * history = the last N crawl days") expressed over the family's own
    * single-segment retire. Tags sort in [[listSrcs]]'s NATURAL order
    * (digit runs numeric), so date-named tags AND the streaming
    * drivers' unpadded b<batchId> tags age out oldest-first; the
    * build segment ("base") is never
    * retired — drop-and-rebuild is its lifecycle. Returns the retired
    * tags (empty when the window already fits — the idempotent
    * steady-state of a daily job). While a STREAMING driver feeds the
    * index, keep >= 1 is the floor: the latest per-batch segment must
    * stay inside the window until its checkpoint commits — a crash
    * replay of a batch whose segment was retired fails LOUDLY (the
    * replay marker survives but the payload is gone, the
    * checkpoint-reset signature) instead of silently resurrecting the
    * retired segment. The doomed segments retire through `retire`
    * (the family's BULK wrapper) in ONE call: a catch-up backlog of N
    * segments pays one heal, one partition-drop validation pass, and
    * one sidecar rebuild — not N rebuilds each rescanning the
    * survivors. The whole set is survivor-validated before anything
    * deletes, so a window that would empty a table refuses up front
    * (atomic) instead of retiring half the backlog first. */
  def retireWindow(spark: SparkSession, dir: String, table: String,
      keep: Int, retire: Seq[String] => Unit): Seq[String] = {
    require(keep >= 0, s"keep must be non-negative: $keep")
    val doomed = listSrcs(spark, dir, table).filterNot(_ == "base")
      .dropRight(keep)
    if (doomed.nonEmpty) retire(doomed)
    doomed
  }

  /** Fail fast when an interrupted append's journal is pending. The
    * journal's existence means the move phase may have landed only part
    * of the batch's files, so a payload read can be TORN — a doc scored
    * on a fraction of its rows, which is silently WRONG, not merely
    * stale. Searches are read-only by contract (they must work against
    * read-only mounts and race no writer), so they refuse loudly
    * instead of healing; any append or compact on the index heals
    * first and clears the journal. */
  def requireNoPendingAppend(spark: SparkSession, dir: String): Unit =
    require(!fsOf(spark, dir).exists(new Path(s"$dir/$JournalName")),
      s"incomplete append at $dir ($JournalName pending) — payload tables " +
        "may be torn mid-move; run this index's heal entry (or any " +
        "append/compact on it: they heal first) before searching")

  /** The stored id set, reading the sidecar when present and falling
    * back to `fallback` (the index's own id column, already distinct)
    * for pre-sidecar indexes. Read-only — use [[ensureIds]] on paths
    * that will extend the sidecar afterwards. */
  def storedIds(spark: SparkSession, dir: String,
      fallback: => DataFrame): DataFrame =
    if (exists(spark, dir)) read(spark, s"$dir/ids") else fallback

  /** Like [[storedIds]], but backfills a missing sidecar from the
    * fallback first, so [[appendStaged]]'s journal-driven sidecar
    * extension leaves it complete. Must be called BEFORE the batch's
    * payload is appended (the fallback projection would otherwise
    * include the batch). */
  def ensureIds(spark: SparkSession, dir: String,
      fallback: => DataFrame): DataFrame = {
    if (!exists(spark, dir)) writeIds(fallback, dir)
    read(spark, s"$dir/ids")
  }

  /** Invalidate (and rebuild) any cached plan reading under `dir`.
    * Every mutation of a persisted index MUST call this: Spark's
    * CacheManager matches by logical plan, so a search fragment cached
    * before a compaction/append/delete (operators legitimately cache
    * branching sub-plans) would otherwise keep serving the OLD file
    * set forever — the same reason Spark's own INSERT paths call
    * refreshByPath after writing. */
  def refresh(spark: SparkSession, dir: String): Unit =
    spark.catalog.refreshByPath(dir)

  /** Tombstone ids into `dir/deleted` — the shared delete model of
    * every persisted index (Milvus materializes deletes the same way:
    * tombstones merged away at compaction): O(batch) per call, no
    * payload rewrite; searches anti-join the set out; each index's
    * compact() purges physically and re-opens the ids. */
  def writeTombstones(ids: DataFrame, dir: String): Unit = {
    ids.select(org.apache.spark.sql.functions.col("id")).distinct()
      .write.mode("append").parquet(s"$dir/deleted")
    // only dir/deleted changed — a dir-wide refresh would needlessly
    // invalidate cached plans over the untouched payload tables (r20)
    refresh(ids.sparkSession, s"$dir/deleted")
  }

  /** Drop the tombstone table outright — called at the head of every
    * index BUILD: a rebuild starts a fresh history, and a prior
    * generation's tombstones must not outlive it (ids are commonly
    * recycled across rebuilds, so a stale `deleted` row would silently
    * anti-join a legitimately re-indexed doc out of every search —
    * the buildExactIndex `deleted_fps` lesson, uniform here). */
  def clearTombstones(spark: SparkSession, dir: String): Unit = {
    fsOf(spark, dir).delete(new Path(s"$dir/deleted"), true); ()
  }

  /** Shrink the tombstone table to ids still present in the ids
    * sidecar — the retirement companion of [[clearTombstones]]: a
    * segment drop takes its docs' payload rows AND sidecar entries
    * away, so a tombstone left behind would outlive the rows it
    * killed and silently anti-join a later re-ingest of the same id.
    * Call AFTER the sidecar rebuild. No-op when nothing was ever
    * deleted. */
  def pruneTombstones(spark: SparkSession, dir: String): Unit =
    tombstones(spark, dir).foreach { dead =>
      replaceTable(spark, dir, "deleted",
        dead.join(spark.read.parquet(s"$dir/ids"), Seq("id"), "left_semi"),
        Seq.empty)
    }

  /** The tombstone set, None when none were ever written. */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/deleted")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(read(spark, s"$dir/deleted"))
    else None
  }

  /** Session conf key capping how many ON-DISK bytes of a tombstone
    * table any family will force-broadcast for its anti-joins; above
    * the cap the hint drops and Spark plans a plain shuffled anti-join
    * on the key. Takedown-sized tombstones (the usual case) broadcast;
    * the sighting-window retires grow the table DAY-sized between
    * compactions — GBs at daily-crawl churn, which a forced hint would
    * ship to every executor past Spark's own broadcast ceiling. */
  private[graft] val TombstoneBroadcastCapKey =
    "graft.tombstoneBroadcastCapBytes"
  private[graft] val TombstoneBroadcastCapDefault: Long = 32L << 20

  /** `df` with a broadcast hint iff the files under `path` total at
    * most the cap — one FS content summary, file lengths only. */
  private[graft] def sizeCappedBroadcast(spark: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    val cap = spark.conf.getOption(TombstoneBroadcastCapKey)
      .map(_.toLong).getOrElse(TombstoneBroadcastCapDefault)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    if (bytes <= cap) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** Drop tombstoned rows from a search-side payload scan. The
    * anti-join side is size-dispatched ([[sizeCappedBroadcast]]). */
  def dropTombstones(spark: SparkSession, dir: String,
      payload: DataFrame): DataFrame =
    dropTombstones(spark, dir, payload, tombstones(spark, dir))

  /** [[dropTombstones]] against an already-read [[tombstones]] result —
    * for searches that filter several tables against one tombstone set. */
  def dropTombstones(spark: SparkSession, dir: String, payload: DataFrame,
      dead: Option[DataFrame]): DataFrame =
    dead.map(d =>
      payload.join(sizeCappedBroadcast(spark, s"$dir/deleted", d),
        Seq("id"), "left_anti")).getOrElse(payload)

  /** Swap a freshly staged table into place without a data-loss
    * window: the live table is renamed ASIDE first, the staged copy
    * renamed in, then the old copy deleted. A crash between the two
    * renames leaves the data intact under `<path>_old` (an outage a
    * human can repair by renaming back — never a loss); a crash after
    * rename-in leaves at worst the `_old` leftover, deleted on the
    * next compact. Leftovers are handled by explicit existence checks
    * — Hadoop rename into an existing directory NESTS the source
    * inside it and returns true, so a rename would never surface them
    * (single concurrent compactor assumed, as everywhere here): an
    * `_old` beside an intact live table is the benign crash-after-
    * rename-in window and self-heals (deleted, compact proceeds); an
    * `_old` with the live table MISSING is the crash-between-renames
    * window — fail with the rename-back repair instruction. */
  private def swapIn(fs: org.apache.hadoop.fs.FileSystem,
      staged: Path, live: Path): Unit = {
    val old = new Path(live.getParent, live.getName + "_old")
    if (fs.exists(old)) {
      require(fs.exists(live),
        s"crashed compact: $live is missing and its data sits at $old — " +
          "rename it back before compacting")
      require(fs.delete(old, true), s"delete leftover $old failed")
    }
    require(fs.rename(live, old), s"rename $live aside failed")
    require(fs.rename(staged, live), s"swap $staged into place failed")
    require(fs.delete(old, true), s"delete $old failed")
  }

  /** Stage `df` as `dir/<name>_tmp` and swap it over the live table via
    * [[swapIn]] — the shared rewrite primitive of every maintenance
    * rewrite (compaction, re-train). The staged write fully
    * materializes `df` BEFORE the live table moves, so plans reading
    * the live table feed the rewrite safely. */
  /** Fail with the `_old` rename-back repair instruction when `name` is
    * in the crash-between-renames state — called BEFORE any read of the
    * live table, which would otherwise fail with a raw PATH_NOT_FOUND
    * and no pointer to the repair (swapIn's own message is unreachable
    * then — it only runs after the read succeeds). */
  def requireLiveTable(spark: SparkSession, dir: String, name: String): Unit = {
    val fs = fsOf(spark, dir)
    require(fs.exists(new Path(s"$dir/$name")) ||
        !fs.exists(new Path(s"$dir/${name}_old")),
      s"crashed rewrite: $dir/$name is missing and its data sits at " +
        s"$dir/${name}_old — rename it back before proceeding")
  }

  def replaceTable(spark: SparkSession, dir: String, name: String,
      df: DataFrame, partCols: Seq[String]): Unit = {
    val fs = fsOf(spark, dir)
    requireLiveTable(spark, dir, name)
    val w = df.write.mode("overwrite")
    (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
      .parquet(s"$dir/${name}_tmp")
    swapIn(fs, new Path(s"$dir/${name}_tmp"), new Path(s"$dir/$name"))
    // only dir/name changed (the swap renames under that root); a
    // dir-wide refresh invalidated every cached plan over the sibling
    // payload tables — measured as whole-verdict recomputes in the
    // appends that merge a bloom sidecar mid-flight (r20)
    refresh(spark, s"$dir/$name")
  }

  /** Physically purge tombstones: rewrite each payload table under
    * `dir` without the dead ids (staged, then swapped via [[swapIn]] —
    * no crash window loses data), shrink the ids sidecar when the
    * index keeps one, drop `dir/deleted`. `payloads` maps table name →
    * partition columns (empty for unpartitioned). No-op when nothing
    * was deleted. */
  def compact(spark: SparkSession, dir: String,
      payloads: Map[String, Seq[String]]): Unit = {
    // an interrupted append's staged batch lives INSIDE the payload
    // tables, and its journal holds ids not yet in the sidecar.
    // replaceTable's rename-aside would silently destroy the staged
    // files while the journal survives — the next healAppend would
    // then roll the journal's ids forward with no payload behind them
    // (a lying sidecar: ids that reject re-appends but never match a
    // search). Heal first, unconditionally, before any table moves.
    healAppend(spark, dir, payloads.keys.toSeq)
    tombstones(spark, dir).foreach { dead =>
      val fs = fsOf(spark, dir)
      payloads.keys.foreach(requireLiveTable(spark, dir, _))
      payloads.foreach { case (name, partCols) =>
        val kept = spark.read.parquet(s"$dir/$name")
          .join(org.apache.spark.sql.functions.broadcast(dead),
            Seq("id"), "left_anti")
        replaceTable(spark, dir, name, kept, partCols)
      }
      // indexes without an append guard (LSH) keep no sidecar — don't
      // invent one here that later appends would silently let go stale
      if (exists(spark, dir)) {
        val keptIds = spark.read.parquet(s"$dir/ids")
          .join(org.apache.spark.sql.functions.broadcast(dead),
            Seq("id"), "left_anti")
        writeIds(keptIds, s"$dir/ids_staging")
        swapIn(fs, new Path(s"$dir/ids_staging/ids"), new Path(s"$dir/ids"))
        fs.delete(new Path(s"$dir/ids_staging"), true)
      }
      fs.delete(new Path(s"$dir/deleted"), true)
      // compaction rewrites payload tables under their live paths —
      // the delete-then-recreate shape where a cached plan fragment
      // can replay a pre-compact listing (the retirement lesson; here
      // the bloom sidecar is UNCHANGED by the purge, so a pre-compact
      // fragment sameResult-matches a post-compact query). Flush.
      spark.catalog.clearCache()
      org.apache.spark.sql.graft.FsCache.invalidate(spark)
      refresh(spark, dir)
    }
  }

  /** Describe a persisted index — the Milvus describe_index /
    * get_collection_stats surface over our on-disk layout. One row per
    * stored table (payloads, sidecars, tombstones alike):
    * (table, files, bytes, rows, kind, fill_est, fpp_est), plus a
    * `_pending_append` row when an interrupted append's journal is
    * present (rows = journaled ids). Row counts come from the parquet
    * footers (a metadata-only count job), so describing a 100 TB index
    * reads no data pages. A Bloom sidecar row additionally reports its
    * saturation health — fill_est = fraction of set bits, fpp_est =
    * fill^k — NULL for every other table; a fpp_est well above the
    * sidecar's stored design fpp means appends have outgrown the
    * original sizing and [[Dedup.rebuildExactSidecar]] is due. */
  def describeIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    require(fs.exists(root), s"index dir $dir does not exist")
    def kindOf(name: String): String = name match {
      case "ids"        => "sidecar"
      case "bloom"      => "sidecar"
      case "deleted"    => "tombstones"
      case "meta" | "stats" | "centroids" | "codebook" | "codebooks"
                        => "metadata"
      case _            => "payload"
    }
    // payload tables may be partitioned (cells/cell=0/part-*.parquet),
    // so the data-file probe has to recurse, not just look one level in
    def hasParquet(p: Path): Boolean = fs.listStatus(p).exists { f =>
      (f.isFile && f.getPath.getName.endsWith(".parquet")) ||
        (f.isDirectory && !f.getPath.getName.startsWith("_") &&
          hasParquet(f.getPath))
    }
    val tables = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        st.getPath.getName != "applied")
      .map(_.getPath)
      .filter(hasParquet)
    val rows = tables.map { p =>
      val sum = fs.getContentSummary(p)
      val df = spark.read.parquet(p.toString)
      // Bloom sidecar health: one-row read of the serialized sketch
      val (fill, fppEst): (Option[Double], Option[Double]) =
        if (p.getName == "bloom" && df.columns.contains("bloom")) {
          val (f, fpp) = Dedup.bloomHealth(
            df.select("bloom").head().getAs[Array[Byte]](0))
          (Some(f), Some(fpp))
        } else (None, None)
      (p.getName, sum.getFileCount, sum.getLength, df.count(),
        kindOf(p.getName), fill, fppEst)
    }
    val journal = new Path(s"$dir/_pending_append")
    val pending =
      if (!fs.exists(journal)) Nil
      else {
        val sum = fs.getContentSummary(journal)
        val n = try spark.read.parquet(journal.toString).count()
          catch { case _: Exception => 0L } // empty commit marker (LSH)
        Seq(("_pending_append", sum.getFileCount, sum.getLength, n,
          "journal", None: Option[Double], None: Option[Double]))
      }
    (rows ++ pending).toDF("table", "files", "bytes", "rows", "kind",
      "fill_est", "fpp_est")
  }

  /** Drop a persisted index — the Milvus drop_collection surface
    * (milvus_connector.py:188-190). Deletes the whole dir (payloads,
    * sidecars, replay markers) and invalidates any cached scans (and
    * the cached codebook) so a stale fragment can never serve a search
    * against the dead index. */
  def dropIndex(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    refresh(spark, dir)
    codebooks.remove(fs.makeQualified(new Path(s"$dir/centroids")).toString)
    require(fs.delete(new Path(dir), true) || !fs.exists(new Path(dir)),
      s"failed to delete index dir $dir")
  }
}
