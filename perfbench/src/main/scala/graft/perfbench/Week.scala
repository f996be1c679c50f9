package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.dedup.LshIndex
import graft.pipelines.CurationJob
import graft.sources.{Snapshots, Tables}

/** The benchmark's in-memory model of a (shortened) curation week: the
  * seeded day batches, and what the store must answer for each step. A document
  * passes the quality gate by the rule of `TextAnalysis.qualityPass`;
  * it is matched when some indexed document (base corpus plus every
  * earlier quality-passed batch document, minus forgotten ones) shares
  * at least `LshIndex.JaccardMin` of its word 3-grams. Batches are
  * built so that true matches sit at Jaccard >= 0.97, where the
  * 4-band LSH misses one pair in about 10^5, and unrelated documents
  * near 0.
  */
final case class Lookup(lo: Long, hi: Long, expect: Seq[Long])
final case class Day(d: Int, batch: Seq[(Long, String)], kept: Long, matched: Long,
    passed: Long, lookups: Seq[Lookup], forget: Seq[Long])

final class WeekPlan(seed: Long, base: Seq[(Long, String)]) {
  private val rnd = new Random(seed)
  private val n = base.size
  private def count(per500: Int): Int = math.max(1, per500 * n / 500)
  private val (nDup, nFresh, nNear, nLow, nForget) =
    (count(10), count(20), count(10), count(4), count(10))
  val nDays = 2
  val lookupsPerDay = 12
  val forgetDay = 1

  private def words(k: Int): String =
    Seq.fill(k)(Inputs.Words(rnd.nextInt(Inputs.Words.size))).mkString(" ")

  private val curated = mutable.SortedSet.empty[Long] ++ base.map(_._1)

  val days: Seq[Day] = {
    val index = mutable.LinkedHashMap.empty[Long, Set[String]]
    base.foreach { case (id, t) => index(id) = WeekPlan.shingles(t, 3).toSet }
    var prevFresh = Seq.empty[(Long, String)]
    (0 until nDays).map { d =>
      val ids = Iterator.from(1).map(j => (d + 1) * 1000000L + j)
      val dups = rnd.shuffle(base).take(nDup).map { case (_, t) => ids.next() -> t }
      val fresh = Seq.fill(nFresh)(ids.next() -> words(50 + rnd.nextInt(41)))
      val near = rnd.shuffle(prevFresh).take(if (d == 0) 0 else nNear)
        .map { case (_, t) => ids.next() -> s"$t ${Inputs.Words(rnd.nextInt(Inputs.Words.size))}" }
      val low = Seq.tabulate(nLow)(i =>
        ids.next() -> (if (i % 2 == 0) words(5) else Seq.fill(20)("spark").mkString(" ")))
      val batch = rnd.shuffle(dups ++ fresh ++ near ++ low)
      val passed = batch.filter { case (_, t) => WeekPlan.qualityPass(t) }
      val matched = passed.filter { case (_, t) =>
        val sh = WeekPlan.shingles(t, 3).toSet
        index.valuesIterator.exists(o => WeekPlan.jaccard(sh, o) >= LshIndex.JaccardMin)
      }.map(_._1).toSet
      passed.foreach { case (id, t) => index(id) = WeekPlan.shingles(t, 3).toSet }
      curated ++= passed.map(_._1).filterNot(matched)
      val blocks = (0L, n.toLong - 1) +: (0 to d).map(e =>
        ((e + 1) * 1000000L + 1, (e + 1) * 1000000L + batch.size))
      val lookups = Seq.tabulate(lookupsPerDay) { i =>
        val (lo, hi) = blocks(rnd.nextInt(blocks.size))
        val span = hi - lo + 1
        val from = lo + rnd.nextInt(span.toInt)
        val to = if (i % 2 == 0) from else math.min(hi, from + math.max(1L, span / 4))
        Lookup(from, to, curated.range(from, to + 1).toSeq)
      }
      val forget =
        if (d != forgetDay) Seq.empty
        else rnd.shuffle(curated.toSeq).take(nForget).sorted
      curated --= forget
      forget.foreach(index.remove)
      prevFresh = fresh
      Day(d, batch, kept = passed.size - matched.size, matched = matched.size,
        passed = passed.size, lookups, forget)
    }
  }

  val finalIds: Set[Long] = curated.toSet
  val candidates: Long = days.map(_.passed).sum
  val keptFrac: Double = days.map(_.kept).sum.toDouble / candidates
}

object WeekPlan {
  /** Word n-grams over single-space tokens, as `WordShingles` emits them. */
  def shingles(t: String, k: Int): Seq[String] =
    t.split(" ", -1).toSeq.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  /** Token floor, mean word length band, symbol ratio and bigram
    * repetition caps of `TextAnalysis.qualityPass`. */
  def qualityPass(t: String): Boolean = {
    val toks = t.split(" ", -1)
    val meanLen = toks.map(_.length).sum.toDouble / toks.length
    val symbols = t.count(c => !(c.isLetterOrDigit && c < 128 || c == ' '))
    val bi = shingles(t, 2)
    val rep = if (bi.isEmpty) 0.0 else 1.0 - bi.distinct.size.toDouble / bi.size
    toks.length >= 10 && meanLen >= 3.0 && meanLen <= 10.0 &&
      symbols.toDouble / toks.length <= 0.1 && rep <= 0.5
  }
}

/** The curation week on fresh roots, shortened to `WeekPlan.nDays`
  * days to fit the benchmark's time budget: each day absorbs a seeded
  * batch (exact duplicates of the base corpus, fresh documents,
  * near-duplicates of yesterday's fresh ones, low-quality documents),
  * serves point and range lookups, and runs nightly maintenance with
  * keep = 3; the forget day also forgets seeded ids; then every batch
  * is re-delivered as a replay, followed by one more nightly. Every
  * step is checked against [[WeekPlan]]. */
final class CurationWeek extends Workload with AdaptiveSparkPlanHelper {
  val name = "curation_week"
  val tables: Seq[String] = Seq("documents")
  def statefulPass: Boolean = true

  private var plan: WeekPlan = _
  private var spaceAmp = Double.NaN
  private var bytesOnDisk = 0L
  private var chainsCompacted = 0L
  private var versionsVacuumed = 0L
  private var filesRead = 0L
  private var filesInChain = 0L

  private def curatedRoot(ctx: Ctx) = s"${ctx.work}/roots/curated"
  private def lshRoot(ctx: Ctx) = s"${ctx.work}/roots/lsh"

  def setup(ctx: Ctx): Unit = {
    val corpus = Tables.documents(ctx.spark, ctx.dataDir).select(col("doc_id"), col("text"))
    val base = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._1)
    plan = new WeekPlan(ctx.seed, base)
    Snapshots.commit(corpus, curatedRoot(ctx), statsCols = Seq("doc_id"))
    LshIndex.build(corpus, lshRoot(ctx))
  }

  private def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, expected $want")

  private def absorb(ctx: Ctx, day: Day, kind: String): CallResult =
    ctx.call(s"${kind}_d${day.d}", kind) {
      ctx.phase(kind) {
        import ctx.spark.implicits._
        val batch = day.batch.toDF("doc_id", "text")
        val s = CurationJob.absorbDaily(batch, curatedRoot(ctx), lshRoot(ctx), day.d.toLong)
          .agg(sum("kept"), sum(when(col("quality_pass") === 1 && col("n_matches") > 0, 1)
            .otherwise(0)), sum("quality_pass")).head()
        if (kind == "absorb")
          expect(s"day ${day.d} kept/matched/passed", (s.getLong(0), s.getLong(1), s.getLong(2)),
            (day.kept, day.matched, day.passed))
      }
    }

  private def lookup(ctx: Ctx, day: Day, i: Int, l: Lookup): CallResult =
    ctx.call(s"lookup_d${day.d}_$i", "lookup") {
      ctx.phase("lookup") {
        val df = CurationJob.lookupDocs(ctx.spark, curatedRoot(ctx), l.lo, l.hi).select(col("doc_id"))
        val got = df.collect().map(_.getLong(0)).toSeq.sorted
        expect(s"lookup [${l.lo}, ${l.hi}]", got, l.expect)
        if (ctx.tracer.nonEmpty) collect(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec =>
            filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
            filesInChain += s.relation.location.inputFiles.length
        }
      }
    }

  private def nightly(ctx: Ctx, label: String): CallResult =
    ctx.call(s"nightly_$label", "nightly") {
      ctx.phase("nightly") {
        val m = CurationJob.nightly(ctx.spark, curatedRoot(ctx), lshRoot(ctx), keep = 3)
        chainsCompacted += m.compacted.values.count(_.nonEmpty)
        versionsVacuumed += m.vacuumed.values.map(_.size).sum
      }
    }

  private def curatedIds(ctx: Ctx): Seq[Long] =
    Snapshots.read(ctx.spark, curatedRoot(ctx)).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSeq

  /** No separate check pass: every step of [[pass]] is checked. */
  def check(ctx: Ctx): Seq[CallResult] = Seq.empty

  def pass(ctx: Ctx, round: Int): Seq[CallResult] = {
    spaceAmp = Double.NaN
    chainsCompacted = 0; versionsVacuumed = 0; filesRead = 0; filesInChain = 0
    val out = mutable.ArrayBuffer.empty[CallResult]
    plan.days.foreach { day =>
      out += absorb(ctx, day, "absorb")
      out ++= day.lookups.zipWithIndex.map { case (l, i) => lookup(ctx, day, i, l) }
      if (day.forget.nonEmpty) {
        out += ctx.call(s"forget_d${day.d}", "forget") {
          ctx.phase("forget") {
            import ctx.spark.implicits._
            CurationJob.forget(ctx.spark, curatedRoot(ctx), lshRoot(ctx),
              day.forget.toDF("doc_id"))
          }
        }
        out += ctx.call(s"forgotten_absent_d${day.d}", "check") {
          ctx.phase("check")(expect("forgotten ids still readable",
            curatedIds(ctx).count(day.forget.toSet), 0))
        }
      }
      out += nightly(ctx, s"d${day.d}")
    }
    plan.days.foreach(day => out += absorb(ctx, day, "replay"))
    out += nightly(ctx, "final")
    out += ctx.call("final_corpus", "check") {
      ctx.phase("check") {
        val ids = curatedIds(ctx)
        expect("final row count", ids.size, plan.finalIds.size)
        expect("final ids", ids.toSet == plan.finalIds, true)
      }
    }
    measureSpace(ctx)
    out.toSeq
  }

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Bytes under the week's roots over the bytes of the live rows
    * written once as plain parquet. */
  private def measureSpace(ctx: Ctx): Unit = ctx.phase("check") {
    val plain = Paths.get(s"${ctx.work}/plain")
    Snapshots.read(ctx.spark, curatedRoot(ctx)).write.mode("overwrite").parquet(plain.toString)
    bytesOnDisk = du(Paths.get(s"${ctx.work}/roots"))
    spaceAmp = bytesOnDisk.toDouble / du(plain)
    Snapshots.deleteRecursively(plain)
  }

  override def figures: Map[String, Double] = Map(
    "batch_docs" -> plan.days.map(_.batch.size).sum.toDouble / plan.nDays,
    "space_amp" -> spaceAmp)

  override def layers: Map[String, Double] = Map(
    "pipelines.kept_frac" -> plan.keptFrac,
    "pipelines.chains_compacted" -> chainsCompacted.toDouble,
    "pipelines.versions_vacuumed" -> versionsVacuumed.toDouble,
    "sources.bytes_on_disk" -> bytesOnDisk.toDouble,
    "sources.files_read_frac" ->
      (if (filesInChain == 0) 0.0 else filesRead.toDouble / filesInChain))
}
