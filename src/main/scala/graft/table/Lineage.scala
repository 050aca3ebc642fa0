package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Iceberg-emulating table layer (no Iceberg runtime ships offline —
  * SURVEY.md §7.6): hash-partitioned parquet + an explicit commit log
  * giving the north rule's observable properties — atomic commits,
  * per-partition lineage + row/byte metrics, and resume-from-last-
  * checkpoint.
  *
  * Layout under `root/`:
  *   part=<i>/…parquet      one bucket per hash partition, promoted
  *                          into place with an atomic directory move
  *   _commits.jsonl         one line per committed bucket:
  *                          {part, rows, bytes, ts} — appended with
  *                          O_APPEND; readers accept only lines that
  *                          parse COMPLETELY, so a torn line from a
  *                          crash mid-append is ignored and the bucket
  *                          is simply redone on resume
  *
  * `writeResumable` scans the source exactly ONCE per invocation
  * (dynamic-partition write to a staging dir, then per-bucket atomic
  * promote + commit), skipping buckets already in the log — a
  * restarted job redoes only uncommitted work. Per-bucket row counts
  * come from parquet footers (metadata-only), not a data re-read.
  * The reference has no such machinery (single-process chunk loops);
  * this is the cluster-scale replacement for its temp-file lifecycle.
  */
object Lineage {

  /** `lo`/`hi` are an optional ZONE MAP over the table's sort/range key
    * (Iceberg's per-file `lower_bounds`/`upper_bounds` column stats):
    * range scans skip buckets whose [lo, hi] misses the predicate. */
  final case class Commit(part: Int, rows: Long, bytes: Long, ts: Long,
                          gen: Int = 0,
                          lo: Option[Long] = None, hi: Option[Long] = None)

  def logPath(root: String): Path = Paths.get(root, "_commits.jsonl")

  private val CommitRe =
    """\{"part":(\d+),"rows":(\d+),"bytes":(\d+),"ts":(\d+)(?:,"gen":(\d+))?(?:,"lo":(-?\d+),"hi":(-?\d+))?\}""".r

  /** Strict whole-line parse: torn/partial lines (crash mid-append)
    * yield None and the bucket counts as uncommitted. Lines without a
    * "gen" field are generation 0 (pre-compaction layout). */
  def parseCommit(line: String): Option[Commit] = line.trim match {
    case CommitRe(p, r, b, t, g, lo, hi) =>
      Some(Commit(p.toInt, r.toLong, b.toLong, t.toLong,
        if (g == null) 0 else g.toInt,
        Option(lo).map(_.toLong), Option(hi).map(_.toLong)))
    case _ => None
  }

  /** Bucket data directory for a given generation: gen 0 is the plain
    * `part=<i>` dir (writeResumable's layout); compacted generations
    * are SIBLING dirs (`part=<i>.g<g>`), never nested — a nested gen
    * dir under a gen-0 dir that still holds root-level parquet would
    * trip Spark's partition discovery ("conflicting directory
    * structures") on any read of the gen-0 path after a crash that
    * left an uncommitted orphan. Readers always address one concrete
    * gen path. */
  def partDir(root: String, part: Int, gen: Int): Path =
    if (gen == 0) Paths.get(root, s"part=$part")
    else Paths.get(root, s"part=$part.g$gen")

  /** Latest committed generation per bucket (compaction appends a
    * higher-gen line; the data swap is crash-safe because the old gen
    * stays complete until the new one is committed). */
  def latestCommits(root: String): Map[Int, Commit] =
    commits(root).groupBy(_.part).map { case (p, cs) =>
      p -> cs.maxBy(_.gen)
    }

  private def commits(root: String): Seq[Commit] = {
    val p = logPath(root)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.flatMap(parseCommit)
  }

  def committedParts(root: String): Set[Int] = commits(root).map(_.part).toSet

  /** Append newline-terminated `lines` to an append-only JSON-lines
    * log. A torn final line (crash mid-append) has no trailing newline
    * — terminate it first so the new records start on their own line
    * instead of concatenating into the garbage. */
  private def appendLines(p: Path, lines: String): Unit = {
    val needsNl = Files.exists(p) && Files.size(p) > 0 && {
      val ch = Files.newByteChannel(p, StandardOpenOption.READ)
      try {
        ch.position(ch.size() - 1)
        val b = java.nio.ByteBuffer.allocate(1)
        ch.read(b)
        b.get(0) != '\n'.toByte
      } finally ch.close()
    }
    Files.write(p, ((if (needsNl) "\n" else "") + lines).getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def appendCommit(root: String, c: Commit): Unit = {
    val genField = if (c.gen > 0) s""","gen":${c.gen}""" else ""
    val statField = (c.lo, c.hi) match {
      case (Some(l), Some(h)) => s""","lo":$l,"hi":$h"""
      case _                  => ""
    }
    appendLines(logPath(root),
      s"""{"part":${c.part},"rows":${c.rows},"bytes":${c.bytes},"ts":${c.ts}$genField$statField}\n""")
  }

  private def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteRec(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)

  private def hasParquet(dir: Path): Boolean =
    Files.exists(dir) && Files.list(dir).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".parquet"))

  private def hasParquetRec(dir: Path): Boolean =
    Files.exists(dir) && Files.walk(dir).iterator().asScala
      .exists(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))

  /** Write `df` bucketed by hash(keyCol) % nParts with a commit log.
    * Returns the number of buckets committed THIS invocation (0 on a
    * fully-committed resume).
    *
    * ONE source scan: the pending buckets are written together via
    * `partitionBy("_part")` into a staging directory; each bucket is
    * then promoted with an atomic directory move and logged. A crash
    * anywhere redoes only unpromoted-or-unlogged buckets idempotently
    * (promote clears any partial previous attempt first). Row metrics
    * are read from parquet footers — no second pass over the data. */
  def writeResumable(spark: SparkSession, df: DataFrame, root: String,
                     keyCol: String, nParts: Int): Int = {
    Files.createDirectories(Paths.get(root))
    val done = committedParts(root)
    val todo = (0 until nParts).filterNot(done)
    if (todo.isEmpty) return 0
    val withPart = df.withColumn("_part", pmod(hash(col(keyCol)), lit(nParts)))
    val pending =
      if (done.isEmpty) withPart
      else withPart.where(!col("_part").isin(done.toSeq: _*))
    val stage = Paths.get(root, s"_stage")
    deleteRec(stage)
    pending.write.partitionBy("_part").mode("overwrite").parquet(stage.toString)
    // per-bucket row counts in ONE footer-only Spark job over the stage
    // (a per-bucket read.count() loop serializes nParts driver jobs)
    val counts: Map[Int, Long] =
      if (!hasParquetRec(stage)) Map.empty
      else spark.read.parquet(stage.toString)
        .groupBy("_part").count().collect()
        .map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    var written = 0
    todo.foreach { p =>
      val src = stage.resolve(s"_part=$p")
      val dst = Paths.get(root, s"part=$p")
      deleteRec(dst) // clear partial previous attempt (idempotent redo)
      if (Files.exists(src))
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      else
        Files.createDirectories(dst) // empty bucket
      appendCommit(root, Commit(p, counts.getOrElse(p, 0L), dirBytes(dst),
        System.currentTimeMillis()))
      written += 1
    }
    deleteRec(stage)
    written
  }

  /** RANGE-bucketed resumable write (Iceberg sort-order + partition
    * transform analog): buckets are contiguous ranges of a LONG
    * `keyCol` instead of hash slots, and each commit line carries the
    * bucket's exact [lo, hi] zone map, so range scans ([[readRange]])
    * skip non-overlapping buckets from METADATA only — no file opens,
    * no footer reads. Boundary selection is a one-pass
    * `percentile_approx` (sampled quantiles, the same mechanism
    * Spark's own RangePartitioner scales with); per-bucket min/max
    * come from the same single staging-scan job as the row counts.
    * Same crash/resume contract as [[writeResumable]]. */
  def writeRangeResumable(spark: SparkSession, df: DataFrame, root: String,
                          keyCol: String, nParts: Int): Int = {
    Files.createDirectories(Paths.get(root))
    val done = committedParts(root)
    val todo = (0 until nParts).filterNot(done)
    if (todo.isEmpty) return 0
    // Bucket boundaries are computed ONCE per table and persisted to a
    // `_bounds.jsonl` sidecar BEFORE any bucket commits: percentile_
    // approx partial-summary merges are not order-deterministic across
    // runs, so a post-crash rerun that recomputed them could assign a
    // row to a different _part than the first run — rows landing in an
    // already-committed bucket would be silently dropped by the
    // `!_part.isin(done)` filter, others duplicated. Resume therefore
    // reuses the persisted boundaries verbatim.
    val boundsFile = Paths.get(root, "_bounds.jsonl")
    val bounds: Seq[Long] =
      if (Files.exists(boundsFile)) {
        Files.readAllLines(boundsFile).asScala
          .filter(_.trim.nonEmpty).map(_.trim.toLong).toSeq
      } else {
        // interior boundaries b_1..b_{n-1}: bucket i = (b_i, b_{i+1}]
        val probs = (1 until nParts).map(_.toDouble / nParts).toArray
        val bRow = df.select(
          percentile_approx(col(keyCol).cast("long"), lit(probs),
            lit(10000))).head()
        val bs: Seq[Long] =
          if (bRow.isNullAt(0)) Seq.empty else bRow.getSeq[Long](0)
        // atomic publish (tmp + move): a crash mid-write leaves no
        // torn sidecar, so the next run recomputes from scratch with
        // zero commits in the log — still consistent
        val tmp = Paths.get(root, "_bounds.jsonl.tmp")
        Files.write(tmp, bs.map(_.toString).asJava)
        Files.move(tmp, boundsFile, StandardCopyOption.ATOMIC_MOVE)
        bs
      }
    // nested when-chain, smallest boundary checked first:
    // _part = 0 for key ≤ b_1, 1 for key ≤ b_2, …, nParts-1 otherwise
    val asc = bounds.zipWithIndex.reverse.foldLeft(lit(nParts - 1)) {
      case (acc, (b, i)) => when(col(keyCol) <= b, lit(i)).otherwise(acc)
    }
    val withPart = df.withColumn("_part", asc)
    val pending =
      if (done.isEmpty) withPart
      else withPart.where(!col("_part").isin(done.toSeq: _*))
    val stage = Paths.get(root, "_stage")
    deleteRec(stage)
    pending.write.partitionBy("_part").mode("overwrite").parquet(stage.toString)
    // counts + ZONE MAP (min/max of keyCol) in one job over the stage
    val stats: Map[Int, (Long, Long, Long)] =
      if (!hasParquetRec(stage)) Map.empty
      else spark.read.parquet(stage.toString)
        .groupBy("_part")
        .agg(count(lit(1)).as("n"),
          min(col(keyCol).cast("long")).as("lo"),
          max(col(keyCol).cast("long")).as("hi"))
        .collect()
        .map(r => r.get(0).toString.toInt ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    var written = 0
    todo.foreach { p =>
      val src = stage.resolve(s"_part=$p")
      val dst = Paths.get(root, s"part=$p")
      deleteRec(dst)
      if (Files.exists(src))
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      else
        Files.createDirectories(dst)
      val (n, lo, hi) = stats.getOrElse(p, (0L, 0L, -1L))
      appendCommit(root, Commit(p, n, dirBytes(dst),
        System.currentTimeMillis(), 0,
        if (n > 0) Some(lo) else None, if (n > 0) Some(hi) else None))
      written += 1
    }
    deleteRec(stage)
    written
  }

  /** Buckets a [lo, hi] range scan must touch, from commit-log zone
    * maps alone: a bucket without stats is never skipped (correctness
    * over pruning). Returns (selected buckets, total committed). */
  def prunedParts(root: String, lo: Long, hi: Long): (Seq[Int], Int) = {
    val latest = latestCommits(root).toSeq.sortBy(_._1)
    val sel = latest.collect {
      case (p, c) if c.rows > 0 && ((c.lo, c.hi) match {
        case (Some(l), Some(h)) => h >= lo && l <= hi
        case _                  => true
      }) => p
    }
    (sel, latest.size)
  }

  /** Zone-map-pruned range scan: read ONLY the buckets whose [lo, hi]
    * overlaps the predicate (metadata decision — at 10¹² rows this is
    * the difference between opening every file and opening the few
    * covering buckets), then apply the residual filter. */
  def readRange(spark: SparkSession, root: String, keyCol: String,
                lo: Long, hi: Long): DataFrame = {
    val (sel, _) = prunedParts(root, lo, hi)
    val byPart = latestCommits(root)
    val dirs = sel.map(p => partDir(root, p, byPart(p).gen))
      .filter(hasParquet).map(_.toString)
    readDirs(spark, root, dirs)
      .where(col(keyCol) >= lo && col(keyCol) <= hi)
  }

  /** Equality-predicate BUCKET PRUNING on the hash layout (Iceberg's
    * bucket-transform partition pruning): recompute the writer's
    * bucket for `value` and read that single directory — a point
    * lookup touches 1/nParts of the table regardless of scale. The
    * bucket id is evaluated with the same Catalyst `hash`/`pmod` the
    * writer used (a one-row local plan — no cluster job). */
  def readForKey(spark: SparkSession, root: String, keyCol: String,
                 value: Any, nParts: Int): DataFrame = {
    val bucket = spark.range(1)
      .select(pmod(hash(lit(value)), lit(nParts)).cast("int"))
      .head().getInt(0)
    val c = latestCommits(root).get(bucket)
    val dir = c.map(cc => partDir(root, bucket, cc.gen)).filter(hasParquet)
    dir match {
      case Some(d) =>
        readDirs(spark, root, Seq(d.toString))
          .where(col(keyCol) === lit(value))
      case None => spark.emptyDataFrame
    }
  }

  /** Read back a resumable table (only committed, non-empty buckets).
    * A committed table whose buckets are ALL empty reads back as an
    * empty (schemaless) DataFrame instead of throwing on a zero-path
    * parquet() call. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val parts = latestCommits(root).toSeq.sortBy(_._1)
      .map { case (p, c) => partDir(root, p, c.gen) }
      .filter(hasParquet)
      .map(_.toString)
    readDirs(spark, root, parts)
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq

  /** Remove a stale generation's data. Gen 0 keeps its `part=` dir
    * (only the parquet files go — the dir is the bucket's identity);
    * higher gens are self-contained sibling dirs and vanish whole. */
  private def vacuumGen(root: String, part: Int, gen: Int): Unit =
    if (gen == 0) parquetFiles(partDir(root, part, 0)).foreach(Files.delete)
    else deleteRec(partDir(root, part, gen))

  /** COMPACT committed buckets whose file count exceeds `maxFiles`:
    * rewrite the bucket as ceil(bytes/targetBytes) files into the next
    * generation dir, commit the new generation, then vacuum the old
    * one. The small-files problem is the dominant metadata cost of a
    * long-lived 10¹²-row table (every incremental `writeResumable`
    * appends files; scans pay per-file open + footer read), and
    * compaction must not break resumability: the old generation stays
    * complete until the new one's commit line is durable, so a crash
    * at ANY point leaves the latest COMMITTED generation readable —
    * the same snapshot-swap contract Iceberg's rewrite_data_files
    * action provides.
    *
    * Returns the number of buckets compacted. Also vacuums data left
    * below the latest committed generation by earlier crashes. */
  def compact(spark: SparkSession, root: String, maxFiles: Int = 1,
              targetBytes: Long = 128L << 20,
              vacuumOld: Boolean = true): Int = {
    var n = 0
    latestCommits(root).toSeq.sortBy(_._1).foreach { case (p, c) =>
      // vacuum: anything from generations below the committed one
      // (skipped under snapshot retention — expireSnapshots does it)
      if (vacuumOld) (0 until c.gen).foreach(vacuumGen(root, p, _))
      val dir = partDir(root, p, c.gen)
      val files = parquetFiles(dir)
      if (files.size > maxFiles) {
        val nOut = math.max(1L, (dirBytes(dir) + targetBytes - 1) / targetBytes).toInt
        val stage = Paths.get(root, s"_compact_p$p")
        deleteRec(stage)
        spark.read.parquet(dir.toString).repartition(nOut)
          .write.mode("overwrite").parquet(stage.toString)
        // drop Spark's non-data markers so the gen dir holds parquet only
        Files.list(stage).iterator().asScala
          .filter(f => !f.getFileName.toString.endsWith(".parquet"))
          .foreach(f => if (Files.isRegularFile(f)) Files.delete(f))
        val newGen = c.gen + 1
        val dst = partDir(root, p, newGen)
        deleteRec(dst)
        Files.createDirectories(dst.getParent)
        Files.move(stage, dst, StandardCopyOption.ATOMIC_MOVE)
        appendCommit(root, Commit(p, c.rows, dirBytes(dst),
          System.currentTimeMillis(), newGen, c.lo, c.hi))
        // old generation is now stale — vacuum post-commit, unless the
        // caller retains snapshots for time travel (expireSnapshots
        // reclaims them later; Iceberg's expire_snapshots contract)
        if (vacuumOld) vacuumGen(root, p, c.gen)
        n += 1
      }
    }
    n
  }

  /** TIME-TRAVEL read (Iceberg `AS OF TIMESTAMP` analog): per bucket,
    * the commit with the greatest ts ≤ `asOfTs` selects which
    * generation's data to read. Needs the old generations retained —
    * run `compact(..., vacuumOld = false)` and reclaim later with
    * [[expireSnapshots]]. Throws if a selected non-empty generation's
    * data was already expired (an unreadable snapshot must not
    * silently return fewer rows). */
  def readSnapshot(spark: SparkSession, root: String, asOfTs: Long): DataFrame = {
    val chosen = commits(root).filter(_.ts <= asOfTs)
      .groupBy(_.part).map { case (p, cs) =>
        p -> cs.maxBy(c => (c.ts, c.gen))
      }.toSeq.sortBy(_._1)
    val dirs = chosen.flatMap { case (p, c) =>
      val d = partDir(root, p, c.gen)
      if (hasParquet(d)) Some(d.toString)
      else if (c.rows == 0) None
      else throw new IllegalStateException(
        s"snapshot asOf=$asOfTs selects part=$p gen=${c.gen} " +
        s"(${c.rows} rows) but its data was expired — retain with " +
        "compact(vacuumOld = false) to time-travel")
    }
    readDirs(spark, root, dirs, asOfTs)
  }

  /** Reclaim data of superseded generations whose SUPERSEDING commit is
    * older than `olderThanTs` — Iceberg's expire_snapshots: time travel
    * beyond the horizon is given up, current reads are untouched.
    * Returns the number of generations vacuumed. */
  def expireSnapshots(root: String, olderThanTs: Long): Int = {
    var n = 0
    commits(root).groupBy(_.part).foreach { case (p, cs) =>
      val latest = cs.maxBy(_.gen)
      cs.filter(c => c.gen < latest.gen).foreach { c =>
        // superseded by the first commit with a higher gen
        val superseder = cs.filter(_.gen > c.gen).minBy(_.gen)
        if (superseder.ts < olderThanTs && hasParquet(partDir(root, p, c.gen))) {
          vacuumGen(root, p, c.gen)
          n += 1
        }
      }
    }
    n
  }

  // ------------------------------------------------------------------
  // SCHEMA EVOLUTION (Iceberg ALTER TABLE analog): add / rename / drop
  // are METADATA-ONLY — no data file is rewritten. Ops append to
  // `_evolution.jsonl` (same torn-line-tolerant contract as the commit
  // log) and every read reconciles whatever physical schema vintages
  // the files carry:
  //   add    — files without the column read it as the declared
  //            default (NULL when none); files that already have it
  //            keep their values, with NULLs backfilled by the default
  //            (documented conflation — Iceberg's initial-default)
  //   rename — old-name files and new-name files coalesce into the
  //            new name
  //   drop   — the column disappears from every vintage
  // Rewrites after an evolution (merge, compact) persist the EVOLVED
  // schema, so vintages genuinely mix on disk and reads stay exact.
  // Ops carry a ts: [[readSnapshot]] applies only the evolution ops
  // visible at the as-of time (schema time travel).
  // ------------------------------------------------------------------

  final case class Evolution(op: String, name: String, to: String,
                             dtype: String, default: Option[String],
                             ts: Long)

  def evolutionPath(root: String): Path = Paths.get(root, "_evolution.jsonl")

  private val EvoRe =
    ("""\{"op":"(add|rename|drop)","name":"([^"]*)","to":"([^"]*)",""" +
     """"dtype":"([^"]*)"(?:,"default":"([^"]*)")?,"ts":(\d+)\}""").r

  def parseEvolution(line: String): Option[Evolution] = line.trim match {
    case EvoRe(op, name, to, dt, dflt, ts) =>
      Some(Evolution(op, name, to, dt, Option(dflt), ts.toLong))
    case _ => None
  }

  def evolutions(root: String): Seq[Evolution] = {
    val p = evolutionPath(root)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.flatMap(parseEvolution)
  }

  private def appendEvolution(root: String, e: Evolution): Unit = {
    val json = s"""{"op":"${e.op}","name":"${e.name}","to":"${e.to}",""" +
      s""""dtype":"${e.dtype}"""" +
      e.default.map(d => s""","default":"$d"""").getOrElse("") +
      s""","ts":${e.ts}}""" + "\n"
    Files.write(evolutionPath(root), json.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** ALTER TABLE ADD COLUMN `name` `dtype` [DEFAULT `default`]:
    * metadata-only; existing files read the column as the default
    * (NULL when none). `dtype` is a Spark SQL type string. */
  def addColumn(root: String, name: String, dtype: String,
                default: Option[String] = None): Unit =
    appendEvolution(root,
      Evolution("add", name, "", dtype, default, System.currentTimeMillis()))

  /** ALTER TABLE RENAME COLUMN: metadata-only. */
  def renameColumn(root: String, from: String, to: String): Unit =
    appendEvolution(root,
      Evolution("rename", from, to, "", None, System.currentTimeMillis()))

  /** ALTER TABLE DROP COLUMN: metadata-only (data stays in old files
    * and is projected away on read). */
  def dropColumn(root: String, name: String): Unit =
    appendEvolution(root,
      Evolution("drop", name, "", "", None, System.currentTimeMillis()))

  /** Reconcile a raw mixed-vintage read with the evolution log (ops
    * with ts ≤ `asOfTs`), in log order. Idempotent per op, so files
    * written before AND after any evolution reconcile to one schema. */
  private def applyEvolution(df: DataFrame, root: String,
                             asOfTs: Long = Long.MaxValue): DataFrame =
    evolutions(root).filter(_.ts <= asOfTs).foldLeft(df) { (d, e) =>
      val cols = d.columns.toSet
      e.op match {
        case "add" =>
          val dflt = e.default
            .map(v => lit(v).cast(e.dtype))
            .getOrElse(lit(null).cast(e.dtype))
          if (cols(e.name)) d.withColumn(e.name, coalesce(col(e.name), dflt))
          else d.withColumn(e.name, dflt)
        case "rename" =>
          (cols(e.name), cols(e.to)) match {
            case (true, true) =>
              d.withColumn(e.to, coalesce(col(e.to), col(e.name)))
                .drop(e.name)
            case (true, false) => d.withColumnRenamed(e.name, e.to)
            case _             => d
          }
        case "drop" => if (cols(e.name)) d.drop(e.name) else d
        case _      => d
      }
    }

  /** Read a set of bucket dirs with schema reconciliation: vintages are
    * schema-merged, then the evolution log is applied. The mergeSchema
    * footer pass only runs when the table has evolved. */
  private def readDirs(spark: SparkSession, root: String,
                       dirs: Seq[String],
                       asOfTs: Long = Long.MaxValue): DataFrame =
    if (dirs.isEmpty) spark.emptyDataFrame
    else if (evolutions(root).isEmpty) spark.read.parquet(dirs: _*)
    else applyEvolution(
      spark.read.option("mergeSchema", "true").parquet(dirs: _*),
      root, asOfTs)

  /** Copy-on-write MERGE (Iceberg `MERGE INTO` analog, matched-update +
    * unmatched-insert by `keyCol`): rows of `source` REPLACE target rows
    * with the same key; source keys absent from the target are inserted.
    * The rewrite is BUCKET-PRUNED on the hash layout: the writer's
    * `pmod(hash(key), nParts)` is recomputed over the source, and only
    * the buckets that hold at least one source key are rewritten — at
    * 10¹² rows an upsert of a day's delta touches the delta's buckets,
    * never the table. One shuffle job rewrites all affected buckets
    * (anti-join out matched keys, union the source, `partitionBy`
    * stage), then each bucket snapshot-swaps to its next generation
    * under the same crash contract as [[compact]]: the old generation
    * stays complete until the new commit line is durable, and a re-run
    * of the same merge after a mid-loop crash converges (upsert is
    * idempotent). Requires every bucket committed and the source schema
    * to match the table's. Returns the number of buckets rewritten. */
  def merge(spark: SparkSession, source: DataFrame, root: String,
            keyCol: String, nParts: Int,
            vacuumOld: Boolean = true): Int =
    rewriteBuckets(spark, source, root, keyCol, nParts, insert = true,
      vacuumOld)

  /** Row-level DELETE by key (Iceberg copy-on-write delete): removes
    * target rows whose `keyCol` appears in `keys` (any DataFrame with
    * that column). Bucket-pruned and crash-safe exactly as [[merge]].
    * Returns the number of buckets rewritten. */
  def deleteKeys(spark: SparkSession, keys: DataFrame, root: String,
                 keyCol: String, nParts: Int,
                 vacuumOld: Boolean = true): Int =
    rewriteBuckets(spark, keys.select(keyCol), root, keyCol, nParts,
      insert = false, vacuumOld)

  private def rewriteBuckets(spark: SparkSession, source: DataFrame,
                             root: String, keyCol: String, nParts: Int,
                             insert: Boolean, vacuumOld: Boolean): Int = {
    val latest = latestCommits(root)
    require((0 until nParts).forall(latest.contains),
      s"merge/delete needs a fully committed table ($nParts buckets)")
    require(latest.values.forall(c => c.lo.isEmpty && c.hi.isEmpty),
      "merge/delete targets the HASH layout; this table carries zone " +
      "maps (writeRangeResumable) — hash placement would corrupt it")
    val bucketOf = pmod(hash(col(keyCol)), lit(nParts)).cast("int")
    val srcP = source.withColumn("_part", bucketOf)
    // the affected-bucket set is tiny by construction (≤ nParts ids) —
    // this collect is metadata, not data
    val affected = srcP.select("_part").distinct()
      .collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return 0
    val tgtDirs = affected.toSeq
      .map(p => partDir(root, p, latest(p).gen))
      .filter(hasParquet).map(_.toString)
    val tgt =
      if (tgtDirs.isEmpty) None
      else Some(readDirs(spark, root, tgtDirs).withColumn("_part", bucketOf))
    val kept = tgt.map(
      _.join(broadcastIfSmall(srcP.select(keyCol).distinct()),
        Seq(keyCol), "left_anti"))
    val merged = (kept, insert) match {
      case (Some(k), true)  => k.unionByName(srcP)
      case (Some(k), false) => k
      case (None, true)     => srcP
      case (None, false)    => return 0 // nothing to delete from
    }
    val stage = Paths.get(root, "_rewrite_stage")
    deleteRec(stage)
    merged.write.partitionBy("_part").mode("overwrite").parquet(stage.toString)
    // per-bucket rows in ONE footer-only job (see writeResumable)
    val counts: Map[Int, Long] =
      if (!hasParquetRec(stage)) Map.empty
      else spark.read.parquet(stage.toString)
        .groupBy("_part").count().collect()
        .map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    var n = 0
    affected.foreach { p =>
      val c = latest(p)
      val newGen = c.gen + 1
      val dst = partDir(root, p, newGen)
      deleteRec(dst)
      val src = stage.resolve(s"_part=$p")
      if (Files.exists(src)) {
        Files.createDirectories(dst.getParent)
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      } else Files.createDirectories(dst) // bucket emptied by the delete
      appendCommit(root, Commit(p, counts.getOrElse(p, 0L), dirBytes(dst),
        System.currentTimeMillis(), newGen, c.lo, c.hi))
      if (vacuumOld) (0 until newGen).foreach(vacuumGen(root, p, _))
      n += 1
    }
    deleteRec(stage)
    n
  }

  /** Broadcast the anti-join's key side when it is small enough to ship
    * (a delta merge's key set usually is); Spark falls back to a
    * shuffled join on its own when the hint is unenforceable. */
  private def broadcastIfSmall(df: DataFrame): DataFrame =
    org.apache.spark.sql.functions.broadcast(df)

  /** Lineage metrics table: one row per commit line (bucket writes AND
    * compaction generations — the append-only history, snapshot-style). */
  def metrics(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    commits(root).map(c => (c.part, c.rows, c.bytes, c.ts, c.gen))
      .toDF("part", "rows", "bytes", "ts", "gen")
  }

  /** Stage-level row/byte observation (`observe`): attach named metrics
    * to a DataFrame; read them from the returned observation after an
    * action — the per-stage metrics feed for the commit log. Metrics
    * ride the job's own execution (AccumulatorV2 under the hood), so
    * counting a stage costs NO extra pass over the data — the
    * distributed-scale way to answer "how many rows survived each
    * stage of the 10¹²-row pipeline". `bytesCol` (e.g. the payload
    * column) adds a byte tally. */
  def observed(df: DataFrame, name: String,
               bytesCol: Option[String] = None)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val m = count(lit(1)).as("rows") +: bytesCol.toSeq.map(c =>
      coalesce(sum(length(col(c)).cast("long")), lit(0L)).as("bytes"))
    (df.observe(obs, m.head, m.tail: _*), obs)
  }

  def stagesPath(root: String): Path = Paths.get(root, "_stages.jsonl")

  /** Persist observed stage metrics into the table's `_stages.jsonl`
    * sidecar (append-only history, same torn-line discipline as the
    * commit log) — the "every stage writes row-count/byte metrics to
    * the metadata table" half of the resumability contract. Call
    * AFTER the action that materialized the observed frames. Stage
    * names are written into JSON verbatim, so names containing `"` or
    * `\` are rejected before anything is written. */
  def recordStages(root: String,
                   obs: Seq[org.apache.spark.sql.Observation]): Unit = {
    obs.foreach(o => require(!o.name.exists(c => c == '"' || c == '\\'),
      s"stage name has a double quote or backslash: ${o.name}"))
    val ts = System.currentTimeMillis()
    val lines = obs.map { o =>
      val m = o.get
      val bytes = m.getOrElse("bytes", 0L)
      s"""{"stage":"${o.name}","rows":${m("rows")},"bytes":$bytes,"ts":$ts}\n"""
    }
    appendLines(stagesPath(root), lines.mkString)
  }

  private val StageRe =
    """\{"stage":"([^"]*)","rows":(\d+),"bytes":(\d+),"ts":(\d+)\}""".r

  /** Stage-metrics history as a DataFrame (torn lines skipped). */
  def stageMetrics(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val p = stagesPath(root)
    val rows =
      if (!Files.exists(p)) Seq.empty
      else Files.readAllLines(p).asScala.toSeq.flatMap {
        _.trim match {
          case StageRe(s, r, b, t) => Some((s, r.toLong, b.toLong, t.toLong))
          case _ => None
        }
      }
    rows.toDF("stage", "rows", "bytes", "ts")
  }
}
