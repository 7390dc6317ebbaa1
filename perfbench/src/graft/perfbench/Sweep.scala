package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** All `SparkEntry.queries` in one session: a cold pass, then warm passes,
  * in a seeded order. Each query's full result is consumed by a checksum
  * sink and checked against the row count and checksum recorded from the
  * seed commit. Every pass starts from the same state: the pods stores
  * that q27, q31 and q48 write are removed and the q15/q45 pair memo is
  * cleared, so every pass does a real write. */
final class Sweep(ctx: Ctx) extends Workload {
  import ctx._
  private val order: Seq[String] = new scala.util.Random(seed).shuffle(Sweep.queryNames)
  private val expected: Map[String, (Long, String)] = Sweep.readTsv(Paths.get(workDir, "expected.tsv"))
  private val seen = mutable.LinkedHashMap.empty[String, Checksum.Sum]
  private var docs: DataFrame = _

  /** The indexed pages, for the traced run's function-layer phases; built
    * on first use, after the timed passes. */
  def points: DataFrame = {
    if (docs == null) docs = SparkEntry.indexed(spark, dataDir).select(col("doc_id"), col("lat"), col("lon")).persist()
    docs
  }

  /** The queries read their tables themselves, so set-up is the session. */
  def setup(): Unit = ()

  def release(): Unit = {
    if (docs != null) docs.unpersist(true)
    resetState()
  }

  /** The stores q27, q31 and q48 write (the queries place them under /tmp,
    * named after the data directory), their trash siblings, and the pair
    * memo. */
  private def resetState(): Unit = {
    val tag = dataDir.replaceAll("[^0-9a-zA-Z]", "_")
    val names = Seq("graft_pods_", "graft_podcat_", "graft_podrec_").map(_ + tag)
    val tmp = Paths.get("/tmp")
    val doomed = Option(tmp.toFile.list()).toSeq.flatten.filter { f =>
      names.exists(n => f == n || f.startsWith(s".$n.trash-"))
    }
    doomed.foreach(f => Sweep.deleteRecursively(tmp.resolve(f)))
    SparkEntry.clearDupPairsMemo()
  }

  /** One pass over every query; returns (per-query seconds, result rows). */
  private def pass(label: String): (Seq[(String, Double)], Long) = {
    resetState()
    var rows = 0L
    val times = order.flatMap { q =>
      val r = op(q) {
        timed(tracer.span(s"query.$q") {
          spark.sparkContext.setJobDescription(q)
          Checksum.of(SparkEntry.queries(q)(spark, dataDir))
        })
      }
      spark.catalog.clearCache()
      r.map { case (sum, s) =>
        rows += sum.rows
        seen.get(q) match {
          case Some(prev) => check(s"$q result equals the earlier passes' ($label)", prev == sum, s"$sum != $prev")
          case None => seen(q) = sum
        }
        if (!record) expected.get(q) match {
          case Some((n, h)) =>
            check(s"$q rows and checksum", sum.rows == n && sum.hex == h, s"got ${sum.rows}/${sum.hex}, recorded $n/$h")
          case None => check(s"$q has a recorded result", ok = false)
        }
        q -> s
      }
    }
    (times, rows)
  }

  def measure(): Unit = {
    if (traced) tracer.enable()
    val ((cold, coldRows), coldS) = timed(pass("cold"))
    passes("cold_pass_s") = Seq(coldS)
    notes("cold_query_s") = cold.map { case (q, t) => f"$q=$t%.2f" }.mkString(",")
    if (traced) {
      Sweep.coldQueries.foreach { q => cold.find(_._1 == q).foreach(t => layer(s"query.${q}_cold_s") = (t._2, "s")) }
      tracer.disable()
    }
    // the end-to-end metrics come from the cold pass: one pass outlasts
    // a run's measuring time, and every run starts in a fresh JVM. The
    // per-query figure is the pass's mean: first-use costs land on the
    // queries the seeded order runs first, which moves the median by ~20%
    e2e("rows_per_s") = (coldRows / coldS, "rows/s")
    e2e("op_p50_s") = (coldS / cold.length, "s")
    named("sweep_cold_s") = (coldS, "s")
    named("cold_query_p50_s") = (Stats.median(cold.map(_._2)), "s")
    val warm = (1 to (if (traced) 0 else warmPasses)).map { i =>
      val ((ts, _), s) = timed(pass(s"warm $i"))
      (ts, s)
    }
    if (warm.nonEmpty) {
      val passS = warm.map(_._2)
      passes("warm_pass_s") = passS
      val qt = order.map(q => Stats.median(warm.flatMap(_._1.filter(_._1 == q).map(_._2))))
      passes("query_warm_s") = qt
      named("sweep_warm_s") = (Stats.median(passS), "s")
      named("query_p50_s") = (Stats.median(qt), "s")
      named("query_p75_s") = (Stats.percentile(qt, 0.75), "s")
      named("query_p75_samples_beyond") = (Stats.beyond(qt.length, 0.75).toDouble, "count")
      named("query_samples") = (qt.length.toDouble, "count")
    }
    if (traced) {
      tracer.enable()
      val ((ts, _), s) = timed(tracer.span("sweep.pass")(pass("traced warm")))
      val passSpan = tracer.spansNamed("sweep.pass")
      Kernels.sparkLayer(ctx, passSpan.map(p => (p.start, p.end)), 1)
      passes("traced_warm_pass_s") = Seq(s)
      ts.foreach { case (q, t) => layer(s"query.${q}_s") = (t, "s") }
      // overhead: the first queries of the order again, untraced and
      // traced in alternating order so neither side runs warmer
      val pairs = order.take(8).zipWithIndex.map { case (q, i) =>
        def once(on: Boolean): Double = {
          resetState()
          if (on) tracer.enable() else tracer.disable()
          val t = timed(Checksum.of(SparkEntry.queries(q)(spark, dataDir)))._2
          spark.catalog.clearCache()
          t
        }
        if (i % 2 == 0) { val u = once(false); (u, once(true)) } else { val t = once(true); (once(false), t) }
      }
      layer("trace_overhead") = (pairs.map(_._2).sum / pairs.map(_._1).sum, "ratio")
      passes("overhead_pairs_untraced_s") = pairs.map(_._1)
      passes("overhead_pairs_traced_s") = pairs.map(_._2)
      // the pods layer on the pages q27 stores, called directly
      tracer.enable()
      val pages = SparkEntry.indexed(spark, dataDir)
        .select(col("doc_id").as("id"), col("lat"), col("lon"), col("warc_ts").as("ts"), col("sid")).persist()
      new PodsOps(ctx, Paths.get(workDir, "pods"), 1700000000L, 1700000000L + 365L * 86400L)
        .layers(pages, pages.count(), reads = 10)
      pages.unpersist(true)
    }
    if (record) Files.writeString(Paths.get(workDir, "got.tsv"),
      seen.map { case (q, sum) => s"$q\t${sum.rows}\t${sum.hex}\n" }.mkString)
  }

  def verify(): Unit =
    check("every query produced a result", seen.size == Sweep.queryNames.length,
      s"${seen.size} of ${Sweep.queryNames.length}")
}

object Sweep {
  lazy val queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
  val coldQueries: Seq[String] = Seq("q15_minhash_dups", "q18_near_dup_pairs", "q25_knn",
    "q27_pods_roundtrip", "q43_shuffle_join_left", "q47_ivf_batch", "q48_stream_reconcile")

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      catch { case _: java.io.IOException => () }
      finally s.close()
    }

  /** Recorded results, one `query<TAB>rows<TAB>checksum` line each. */
  def readTsv(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split('\t')
      q -> (n.toLong, h)
    }.toMap
}
