package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Ann, CacheLifecycle, Dedup, Ingest, Maintenance}
import graft.sources.SegmentWriter

/** What one run hands to every workload. */
final class Ctx(val spark: SparkSession, val trace: Tracer, val seed: Long,
    val seconds: Double, val work: Path) {
  /** A fresh directory under the run's scratch area. */
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
  /** Seeds for independent streams derived from the run seed. */
  def sub(stream: Long): Long = seed * 1000003L + stream
}

/** One op's outcome: failed ops are counted, never dropped. */
final case class OpResult(kind: String, seconds: Double, writeSeconds: Double,
    items: Long, ok: Boolean)

/** The raw numbers a workload measured; [[Main]] turns them into
  * metrics. `setupS` is the set-up after session start: inputs, the
  * pre-built store and warm-up. `detail` holds the workload's own named
  * metrics. */
final case class Measured(setupS: Double, ops: Seq[OpResult],
    recall: Double, detail: Seq[(String, Double, String)],
    ratios: Map[String, Double], minOps: Int)

object Workloads {
  val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("source", StringType)))

  def docsDf(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d =>
      Row(d.id, d.text, d.source)): _*), DocSchema)

  /** The corpus as a reader would meet it: a parquet file on disk. */
  def docsOnDisk(spark: SparkSession, docs: Seq[Doc], dir: String): DataFrame = {
    docsDf(spark, docs).coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  def noneExisting(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("file_id"))

  /** Chunk vectors of written segments: one id per (doc, block). */
  def chunkVectors(spark: SparkSession, segDir: String): DataFrame =
    spark.read.parquet(segDir).select(
      (col("file_id") * 1000 + col("block_id")).as("id"),
      col("dense_embedding").as("v"))

  def postings(docs: DataFrame): DataFrame =
    Ingest.sparseTerms(docs, Seq("doc_id"), "text")
      .select(col("doc_id").as("id"), col("term"), col("weight").as("w"))

  /** `live` per family from the store report. */
  def liveCounts(spark: SparkSession, specs: Seq[(String, String)]): Map[String, Long] =
    Maintenance.storeReport(spark, specs).select("family", "live").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Heap in use after full collections, in MB: what the program still
    * holds once the ops are done (cached frames, broadcasts, metadata).
    * The pause lets Spark's cleaner drop what the first collection
    * released before the second one measures. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Run `op(i)` in whole rounds of `round` ops until `seconds` have
    * passed, so every run has the same mix of op kinds. An op that throws
    * counts as failed. */
  def loop(ctx: Ctx, round: Int)(op: Int => OpResult): Seq[OpResult] = {
    val out = ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    var i = 0
    while (i % round != 0 || i == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      log(s"op $i")
      val r = try op(i) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $i failed: $e")
          e.printStackTrace()
          OpResult("failed", 0.0, 0.0, 0L, ok = false)
      }
      out += r
      i += 1
    }
    log(s"$i ops done")
    out.toSeq
  }

  val jvmStart: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2fs $msg")

  def check(cond: Boolean, what: => String): Boolean = {
    if (!cond) System.err.println(s"[perfbench] check failed: $what")
    cond
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Daily admission: a pre-built store fed one batch per day through the
  * exists check, the exact and near-dup gates, ingest, the IVF, minhash
  * and exact appends, and the nightly retention run; the last day of each
  * round also takes chunks down and compacts. */
object DailyAdmit {
  import Workloads._
  val BaseDocs = 300
  val BatchDocs = 60
  /** Appended segments each index keeps: the first retirement runs in
    * day Keep+1's nightly, so a round of Days covers appends on both
    * sides. */
  val Keep = 1
  val TakedownChunks = 40
  val Days = 3

  final class Store(val root: String) {
    val ivf = s"$root/ivf"
    val minhash = s"$root/minhash"
    val exact = s"$root/exact"
    def seg(tag: String) = s"$root/segments/$tag"
    val specs = Seq((ivf, "ivf"), (minhash, "minhash"), (exact, "exact"))
  }

  /** The pre-built store: the base corpus ingested into the `base`
    * segment and every index built over it. */
  def build(ctx: Ctx, base: Seq[Doc], root: String): Store = {
    val spark = ctx.spark
    val t = ctx.trace
    val st = new Store(root)
    val input = t.span("setup.inputs") {
      docsOnDisk(spark, base, s"$root/input")
    }
    t.span("ingest.pipeline_write") {
      SegmentWriter.write(Ingest.pipeline(input, noneExisting(spark)),
        st.seg("base"))
    }
    t.span("ann.ivf_build") {
      Ann.buildIvfIndex(chunkVectors(spark, st.seg("base")), st.ivf)
    }
    t.span("dedup.minhash_build") {
      Dedup.buildMinhashIndex(input, "doc_id", "text", st.minhash)
    }
    t.span("dedup.exact_build") {
      Dedup.buildExactIndex(input, "doc_id", "text", st.exact)
    }
    st
  }

  def run(ctx: Ctx): Measured = {
    val spark = ctx.spark
    val g = new Gen(ctx.sub(0))
    val base = (1 to BaseDocs).map(i => Doc(i.toLong, g.text(), g.source()))
    val (st, setupS) = ctx.trace.op("setup")(build(ctx, base, ctx.dir("store")))
    val baseChunks = chunkVectors(spark, st.seg("base")).select("id")
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    val live0 = liveCounts(spark, st.specs)
    require(live0 == Map("ivf" -> baseChunks.size.toLong,
      "minhash" -> BaseDocs.toLong, "exact" -> BaseDocs.toLong),
      s"base store report $live0")

    // what the store must hold: per admitted day its docs and chunks
    val admittedDocs = mutable.Map.empty[Int, Long]
    val dayChunks = mutable.Map.empty[Int, Long]
    var deleted = 0
    // stored id -> the base document it descends from (itself if none)
    val root = mutable.Map.empty[Long, Long]
    base.foreach(d => root(d.id) = d.id)
    val earlierFresh = ArrayBuffer.empty[Doc]
    var nextId = BaseDocs + 1L
    var nearPlanted = 0L
    var nearFlagged = 0L
    val admitFrac = ArrayBuffer.empty[Double]

    val ops = loop(ctx, Days) { i =>
      val d = i + 1
      val day = Daily.day(g, d, BatchDocs, base, earlierFresh.toIndexedSeq, nextId)
      nextId += day.docs.size - day.resent.size
      var ok = true
      var writeS = 0.0
      val (_, seconds) = ctx.trace.op("daily.day") {
        val t = ctx.trace
        val batch = docsDf(spark, day.docs)
        val afterExists = t.span("ingest.exists") {
          val existing = spark.read.parquet(s"${st.root}/segments/*")
            .select("file_id")
          Ingest.existsCheck(batch, existing, col("doc_id"), col("file_id"))
            .select("doc_id").collect().map(_.getLong(0)).toSet
        }
        ok &= check(day.docs.map(_.id).toSet -- afterExists == day.resent,
          s"day $d: exists check dropped the wrong ids")
        val batch2 = day.docs.filter(x => afterExists(x.id))
        val exactDup = t.span("dedup.exact_gate") {
          Dedup.dedupExactAgainstIndex(spark, st.exact, docsDf(spark, batch2),
            "doc_id", "text").filter(col("is_dup")).select("id").collect()
            .map(_.getLong(0)).toSet
        }
        ok &= check(exactDup == day.exact.keySet,
          s"day $d: exact gate flagged ${exactDup.size}, planted ${day.exact.size}")
        val batch3 = batch2.filterNot(x => exactDup(x.id))
        val nearPairs = t.span("dedup.minhash_gate") {
          val p = Dedup.dedupAgainstIndex(spark, st.minhash,
            docsDf(spark, batch3), "doc_id", "text")
          val rows = p.select("id_new", "id_old").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          CacheLifecycle.release(p)
          rows
        }
        ok &= check(nearPairs.forall { case (n, o) =>
          day.near.contains(n) && root.get(o) == root.get(day.near(n)) },
          s"day $d: a near-dup pair lies outside one planted family")
        val nearIds = nearPairs.map(_._1).toSet
        nearPlanted += day.near.size
        nearFlagged += nearIds.size
        val admitted = batch3.filterNot(x => nearIds(x.id))
        admitFrac += admitted.size.toDouble / day.docs.size
        val admittedDf = docsDf(spark, admitted)
        val tag = day.tag
        val w0 = System.nanoTime()
        val manifest = t.span("ingest.pipeline_write") {
          SegmentWriter.write(Ingest.pipeline(admittedDf, noneExisting(spark)),
            st.seg(tag))
        }
        t.span("ann.ivf_append") {
          Ann.appendToIvfIndex(spark, st.ivf, chunkVectors(spark, st.seg(tag)), tag)
        }
        t.span("dedup.minhash_append") {
          Dedup.appendToMinhashIndex(spark, st.minhash, admittedDf, "doc_id",
            "text", tag)
        }
        t.span("dedup.exact_append") {
          Dedup.appendToExactIndex(spark, st.exact, admittedDf, "doc_id",
            "text", tag)
        }
        writeS = (System.nanoTime() - w0) / 1e9
        val retired = t.span("maintenance.nightly") {
          Maintenance.nightly(spark, st.specs.map { case (dir, fam) =>
            (dir, fam, Keep) }).select("family", "tag").collect()
            .map(r => (r.getString(0), r.getString(1))).toSet
        }
        val expectRetired =
          if (d > Keep) st.specs.map(s => (s._2, Day.tagOf(d - Keep))).toSet
          else Set.empty[(String, String)]
        ok &= check(retired == expectRetired,
          s"day $d: nightly retired $retired, expected $expectRetired")
        if (d % Days == 0) {
          val doomed = (0 until TakedownChunks).map(k => baseChunks(deleted + k))
          t.span("ann.ivf_delete") {
            Ann.deleteFromIvfIndex(spark, st.ivf, spark.createDataFrame(
              java.util.Arrays.asList(doomed.map(Row(_)): _*),
              StructType(Seq(StructField("id", LongType)))))
          }
          t.span("maintenance.compact") {
            Maintenance.nightlyCompact(spark, Seq((st.ivf, "ivf", 0.0))).collect()
          }
          deleted += TakedownChunks
        }
        admitted.foreach(x =>
          root(x.id) = day.near.get(x.id).map(root).getOrElse(x.id))
        earlierFresh ++= admitted.filter(x => !day.near.contains(x.id))
        admittedDocs(d) = admitted.size.toLong
        dayChunks(d) = manifest.map(_.rows).sum
        ()
      }
      // the store must hold exactly the base plus the days still inside
      // the keep window, minus what the takedowns removed
      val window = (math.max(1, d - Keep + 1) to d)
      val docsLive = base.size + window.map(admittedDocs).sum
      val chunksLive = baseChunks.size - deleted + window.map(dayChunks).sum
      val live = liveCounts(spark, st.specs)
      ok &= check(live == Map("ivf" -> chunksLive, "minhash" -> docsLive,
        "exact" -> docsLive),
        s"day $d: store report $live, predicted docs=$docsLive chunks=$chunksLive")
      OpResult("day", seconds, writeS, day.docs.size.toLong, ok)
    }
    val good = ops.filter(_.ok)
    val recall = if (nearPlanted == 0) 0.0 else nearFlagged.toDouble / nearPlanted
    Measured(setupS, ops, recall,
      Seq(("daily_batch_p50_s", median(good.map(_.seconds)), "s"),
        ("daily_batch_samples", good.size.toDouble, "count"),
        ("daily_docs_per_s", good.map(_.items).sum / good.map(_.seconds).sum, "1/s")),
      Map("daily.admitted_frac" -> admitFrac.sum / math.max(1, admitFrac.size)),
      Days)
  }
}

/** Search with writes beside it: rounds that open with an append plus a
  * delete, then run 16-query IVF searches and a BM25 search in seeded
  * order. */
object SearchMix {
  import Workloads._
  val Dim = 64
  val Vectors0 = 6000
  val Clusters = 48
  val Spread = 1.1
  val Nlist = 32
  val Nprobe = 4
  val K = 10
  val Batch = 16
  val SparseDocs = 500
  val BmQueries = 4
  val AppendN = 300
  val DeleteN = 100
  /** A round of 10 ops: a write (an append plus a delete), then 8 IVF
    * searches and 1 BM25 search in seeded order — every search of a
    * round reads the store the write just changed. */
  val Reads = Seq.fill(8)("ivf") :+ "bm25"
  val Round = 10

  val VecSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false))))
  val QuerySchema = StructType(Seq(StructField("qid", LongType, nullable = false),
    StructField("qv", ArrayType(DoubleType, containsNull = false))))

  def vecDf(spark: SparkSession, ids: Seq[Long], vs: Seq[Array[Double]],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.zip(vs).map {
      case (i, v) => Row(i, v.toSeq) }: _*), schema)

  def run(ctx: Ctx): Measured = {
    val spark = ctx.spark
    val g = new Gen(ctx.sub(0))
    val mix = new Vectors(g, Dim, Clusters, Spread)
    val ids = ArrayBuffer.from((0 until Vectors0).map(_.toLong))
    val vs = ArrayBuffer.from((0 until Vectors0).map(_ => mix.point()))
    val docs = (1 to SparseDocs).map(i => Doc(i.toLong, g.text(), g.source()))
    val root = ctx.dir("store")
    val ivf = s"$root/ivf"
    val sparse = s"$root/sparse"
    val deleted = mutable.HashSet.empty[Long]
    val norms = ArrayBuffer.from(vs.map(Vectors.norm))
    val index = mutable.HashMap.from(ids.indices.map(i => ids(i) -> i))
    val docIds = docs.map(_.id).toSet
    val sched = new Gen(ctx.sub(2))
    var nextId = Vectors0.toLong
    var writes = 0

    def exact(q: Array[Double]): Seq[(Long, Double)] =
      Vectors.topK(q, ids.toArray, vs.toArray, norms.toArray,
        id => !deleted(id), K)

    /** Full probe on two queries must equal the exact top-10 exactly. */
    def fullProbeOk(): Boolean = {
      val qs = Seq(mix.point(), mix.point())
      val got = Ann.searchIvfIndex(spark, ivf,
        vecDf(spark, Seq(0L, 1L), qs, QuerySchema), K, Nlist)
        .select("qid", "id", "score", "rank").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(3))
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
      qs.indices.forall(i => check(got.getOrElse(i.toLong, Nil) == exact(qs(i)),
        s"full-probe search differs from the exact top-$K"))
    }

    /** Append fresh vectors and delete live ids; returns the op's seconds. */
    def write(): Double = {
      writes += 1
      val newIds = (0 until AppendN).map(k => nextId + k)
      val newVs = newIds.map(_ => mix.point())
      nextId += AppendN
      val liveIds = ids.filterNot(deleted)
      val doomed = sched.shuffle(liveIds.indices).take(DeleteN).map(liveIds(_))
      val appendDf = vecDf(spark, newIds, newVs, VecSchema)
      val doomedDf = spark.createDataFrame(java.util.Arrays.asList(
        doomed.map(Row(_)): _*), StructType(Seq(StructField("id", LongType))))
      val t0 = System.nanoTime()
      ctx.trace.span("ann.ivf_append") {
        Ann.appendToIvfIndex(spark, ivf, appendDf, f"w$writes%03d")
      }
      ctx.trace.span("ann.ivf_delete") {
        Ann.deleteFromIvfIndex(spark, ivf, doomedDf)
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      newIds.foreach(id => index(id) = ids.size + (id - newIds.head).toInt)
      ids ++= newIds
      vs ++= newVs
      norms ++= newVs.map(Vectors.norm)
      deleted ++= doomed
      seconds
    }

    val (_, setupS) = ctx.trace.op("setup") {
      val t = ctx.trace
      t.span("setup.inputs") {
        vecDf(spark, ids.toSeq, vs.toSeq, VecSchema).write.parquet(s"$root/vectors")
      }
      t.span("ann.ivf_build") {
        Ann.buildIvfIndex(spark.read.parquet(s"$root/vectors"), ivf, nlist = Nlist)
      }
      t.span("ann.sparse_build") {
        Ann.buildSparseIndex(postings(docsOnDisk(spark, docs, s"$root/docs")),
          sparse, buckets = 32)
      }
      // warm-up: searches of each kind and one write, so the measured ops
      // do not pay for first-use code generation
      t.span("setup.warmup") {
        (0 until 3).foreach(i => Ann.searchIvfIndex(spark, ivf,
          vecDf(spark, Seq(0L), Seq(vs(i)), QuerySchema), K, Nprobe).collect())
        Ann.searchSparseIndexBm25(spark, sparse, bmTerms(spark, docs.take(1)), K)
          .collect()
        write()
      }
    }
    require(fullProbeOk(), "full-probe search on the fresh store is not exact")

    val schedule = Iterator.continually("write" +: sched.shuffle(Reads)).flatten
    var recallSum = 0.0
    var recallN = 0
    val ops = loop(ctx, Round) { _ =>
      schedule.next() match {
        case "ivf" =>
          val qs = (0 until Batch).map(_ => mix.point())
          val qdf = vecDf(spark, qs.indices.map(_.toLong), qs, QuerySchema)
          val (rows, s) = ctx.trace.op("search.ivf") {
            ctx.trace.span("ann.ivf_search") {
              Ann.searchIvfIndex(spark, ivf, qdf, K, Nprobe)
                .select("qid", "id", "score", "rank").collect()
            }
          }
          val byQ = rows.groupBy(_.getLong(0))
          var ok = true
          qs.indices.foreach { qi =>
            val hits = byQ.getOrElse(qi.toLong, Array.empty).sortBy(_.getInt(3))
            val q = qs(qi)
            val qn = Vectors.norm(q)
            ok &= check(hits.length == K &&
              hits.map(_.getInt(3)).toSeq == (1 to K) &&
              hits.forall { h =>
                val id = h.getLong(1)
                !deleted(id) && index.contains(id) &&
                  Vectors.score(q, qn, vs(index(id)), norms(index(id))) == h.getDouble(2)
              }, s"IVF search hits for query $qi are not live, scored, ranked")
            val truth = exact(q).map(_._1).toSet
            recallSum += hits.count(h => truth(h.getLong(1))).toDouble / K
            recallN += 1
          }
          OpResult("ivf", s, 0.0, qs.size.toLong, ok)
        case "bm25" =>
          val qdocs = (0 until BmQueries).map(_ => docs(g.int(docs.size)))
          val terms = bmTerms(spark, qdocs)
          val (rows, s) = ctx.trace.op("search.bm25") {
            ctx.trace.span("ann.bm25_search") {
              Ann.searchSparseIndexBm25(spark, sparse, terms, K)
                .select("qid", "id", "score", "rank").collect()
            }
          }
          val ok = check(rows.groupBy(_.getLong(0)).forall { case (_, hs) =>
            val sorted = hs.sortBy(_.getInt(3))
            sorted.length <= K && sorted.map(_.getInt(3)).toSeq == (1 to sorted.length) &&
              sorted.forall(h => docIds(h.getLong(1))) &&
              sorted.map(_.getDouble(2)).toSeq == sorted.map(_.getDouble(2)).sortBy(-_).toSeq
          } && rows.nonEmpty, "BM25 hits are not corpus ids in rank order")
          OpResult("bm25", s, 0.0, qdocs.size.toLong, ok)
        case _ =>
          val (s, _) = ctx.trace.op("search.write")(write())
          OpResult("write", s, s, 0L, fullProbeOk())
      }
    }
    val good = ops.filter(_.ok)
    val ivfS = good.filter(_.kind == "ivf").map(_.seconds)
    val searches = good.filter(o => o.kind == "ivf" || o.kind == "bm25")
    val writeS = good.filter(_.kind == "write").map(_.seconds)
    val recall = if (recallN == 0) 0.0 else recallSum / recallN
    def p90(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(
      math.min(xs.size - 1, math.ceil(0.9 * xs.size).toInt - 1))
    Measured(setupS, ops, recall,
      Seq(("search_p50_s", median(ivfS), "s"), ("search_p90_s", p90(ivfS), "s"),
        ("search_samples", ivfS.size.toDouble, "count"),
        ("search_qps", searches.map(_.items).sum / searches.map(_.seconds).sum, "1/s"),
        ("search_recall10", recall, "frac"),
        ("search_write_p50_s", median(writeS), "s")),
      Map.empty, Round)
  }

  def bmTerms(spark: SparkSession, qdocs: Seq[Doc]): DataFrame =
    Ingest.sparseTerms(docsDf(spark, qdocs.zipWithIndex.map { case (d, i) =>
      d.copy(id = i.toLong) }), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term")).distinct()
}
