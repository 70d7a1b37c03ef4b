package perfbench

import java.nio.file.{Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The training-data side: a curation pass over a text corpus with planted
  * exact-duplicate and near-duplicate groups. `Dedup.exact` →
  * `Dedup.minhashLsh(0.8)` → `Dedup.components` → keep one canonical doc
  * per group → write the kept corpus. No model and no vector store. */
final class DedupText(seed: Long, dir: Path) extends Workload(seed, dir) {
  val Docs = 2000
  val Threshold = 0.8
  val headline = "pass"
  def itemsPerOp: Double = docCount
  val traceOps = 2

  private def corpus = dir.resolve("data/docs").toString
  private var exactGroups: Seq[Seq[Long]] = Nil
  private var nearGroups: Seq[Seq[Long]] = Nil
  private var docCount = 0
  private val outputs = ArrayBuffer.empty[String] // kept-corpus paths of the timed passes
  /** The frames of the last pass, for the checks and the pair counts. */
  final case class Pass(canonical: DataFrame, exact: DataFrame, pairs: DataFrame, comps: DataFrame)
  private var last: Option[Pass] = None

  /** About `Docs` docs of 60-140 words from a 5000-word vocabulary. Of the
    * base docs drawn, 3 in 100 become an exact group of 2-4 copies that
    * differ only in case and spacing, and 4 in 100 a near-duplicate group
    * of 2-5 variants, each with 1 or 2 words replaced. */
  def build(): Unit = {
    val rng = new SplittableRandom(seed)
    val vocab = Gen.vocabulary(rng, 5000)
    def doc(): Array[String] = Array.fill(Gen.between(rng, 60, 140))(Gen.pick(rng, vocab))
    val rows = ArrayBuffer.empty[(Long, String)]
    val exact = ArrayBuffer.empty[Seq[Long]]
    val near = ArrayBuffer.empty[Seq[Long]]
    def add(text: String): Long = { rows += ((rows.size.toLong, text)); rows.size - 1L }
    while (rows.size < Docs) {
      val roll = rng.nextInt(100)
      val base = doc()
      if (roll < 3) {
        exact += (0 until Gen.between(rng, 2, 4)).map { c =>
          val t = base.mkString(if (c % 2 == 0) " " else "  ")
          add(if (c >= 2) t.toUpperCase(java.util.Locale.ROOT) else t)
        }
      } else if (roll < 7) {
        near += (0 until Gen.between(rng, 2, 5)).map { c =>
          // variant c replaces words 2c-2 and maybe 2c-1 by other words,
          // so no two members of a group are equal
          val v = base.clone()
          if (c > 0) (2 * c - 2 until 2 * c - 2 + Gen.between(rng, 1, 2)).foreach { k =>
            var w = Gen.pick(rng, vocab)
            while (w == v(k)) w = Gen.pick(rng, vocab)
            v(k) = w
          }
          add(v.mkString(" "))
        }
      } else add(base.mkString(" "))
    }
    exactGroups = exact.toSeq
    nearGroups = near.toSeq
    docCount = rows.size
    spark.createDataFrame(rows.toSeq).toDF("doc_id", "text").repartition(4).write.parquet(corpus)
  }

  // untimed, counted in set-up: the cold pass takes 3-4x a steady one,
  // and the next two still run slow while the JIT compiles
  def warmUp(): Unit = (0 until 3).foreach(j => dedupPass(dir.resolve(s"data/kept-warm-$j").toString))

  def run(i: Int): String = {
    val out = dir.resolve(s"data/kept-$pass-$i").toString
    dedupPass(out)
    outputs += out
    "pass"
  }

  /** A step of the pass: a span inside the layer's own, named after it. */
  private def step[T](name: String)(body: => T): T = tracer.span(s"${Layers.Dedup}.$name")(body)

  private def dedupPass(out: String): Unit = tracer.span(Layers.Dedup) {
    val docs = spark.read.parquet(corpus)
    val exact = step("exact")(tracer.force(Dedup.exact(docs)))
    val canonical = docs.join(exact.select(col("canonical_id").as("doc_id")), "doc_id")
    val pairs = step("lsh")(tracer.force(Dedup.minhashLsh(canonical, Threshold)))
    val comps = step("components")(Dedup.components(pairs.select("id1", "id2")))
    step("keep") {
      canonical.join(comps.where(col("component") =!= col("id")), col("doc_id") === col("id"),
        "left_anti").write.parquet(out)
    }
    last = Some(Pass(canonical, exact, pairs, comps))
  }

  def finish(samples: Seq[Sample]): Outcome = {
    val failures = ArrayBuffer.empty[String]
    val Pass(_, exact, _, comps) = last.get
    // planted exact groups come back exactly: one fingerprint per group,
    // canonical id the group's smallest, copies the group's size, and no
    // other doc has a copy
    val groups = exact.where(col("n_copies") > 1).select("canonical_id", "n_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = exactGroups.map(g => g.min -> g.size.toLong).toMap
    if (groups != planted)
      failures += s"exact groups: found ${groups.size}, planted ${planted.size}; " +
        s"${(groups.toSet diff planted.toSet).take(3)} vs ${(planted.toSet diff groups.toSet).take(3)}"
    val component = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = nearGroups.flatMap(g => g.combinations(2).map { case Seq(a, b) => (a, b) })
    val found = pairs.count { case (a, b) => component.get(a).exists(component.get(b).contains) }
    // no component may join docs of two different planted groups
    val groupOf = nearGroups.zipWithIndex.flatMap { case (g, k) => g.map(_ -> k) }.toMap
    component.groupBy(_._2).values.foreach { members =>
      val gs = members.keys.map(id => groupOf.getOrElse(id, -1 - id.toInt)).toSet
      if (gs.size > 1) failures += s"component ${members.keys.min} spans planted groups $gs"
    }
    // the kept corpus has one doc per exact group and per component
    val removed = exactGroups.map(_.size - 1).sum + component.count { case (id, c) => id != c }
    var bytes, rows = 0L
    outputs.foreach { path =>
      val n = spark.read.parquet(path).count()
      if (n != docCount - removed)
        failures += s"$path: kept $n docs, expected ${docCount - removed}"
      rows += n
      bytes += Main.dataFiles(Paths.get(path))._2
    }
    val recall = found.toDouble / math.max(1, pairs.size)
    val passMs = samples.filter(s => s.kind == headline && s.ok).map(_.ms)
    Outcome(
      quality = recall,
      bytesPerItem = bytes.toDouble / math.max(1L, rows),
      degraded = 0,
      failures = failures.take(20).toSeq,
      report = Seq(
        ("dedup_docs_per_s", docCount * 1e3 / Main.median(passMs), "1/s"),
        ("neardup_recall", recall, "ratio")))
  }

  def layerMetrics(samples: Seq[Sample], listener: LayerListener): Map[String, Double] = {
    // every pass sees the same corpus: the last pass's pair counts,
    // counted untimed, times the traced passes
    val Pass(canonical, _, pairs, _) = last.get
    val candidates = Dedup.candidatePairs(canonical).count().toDouble * samples.size
    val verified = pairs.count().toDouble * samples.size
    Map(
      "operators.dedup.exact_s" -> tracer.totalSeconds(s"${Layers.Dedup}.exact"),
      "operators.dedup.lsh_s" -> tracer.totalSeconds(s"${Layers.Dedup}.lsh"),
      "operators.dedup.components_s" -> tracer.totalSeconds(s"${Layers.Dedup}.components"),
      "operators.dedup.candidate_pairs" -> candidates,
      "operators.dedup.verified_pairs" -> verified,
      "operators.dedup.pair_yield" -> verified / math.max(1.0, candidates))
  }

  def inputs: Seq[(String, Double)] = Seq(
    "docs" -> docCount.toDouble,
    "exact_groups" -> exactGroups.size.toDouble,
    "exact_docs" -> exactGroups.map(_.size).sum.toDouble,
    "near_groups" -> nearGroups.size.toDouble,
    "near_docs" -> nearGroups.map(_.size).sum.toDouble,
    "planted_near_pairs" -> nearGroups.map(g => g.size * (g.size - 1) / 2).sum.toDouble)
}
