package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A workload: graded query builders over one generated input directory,
  * each charged to the graft layer (module) it exercises.
  *
  * Operations run in `SparkEntry.queries` declaration order, so producers
  * run before their consumers (the PCA and image-hash exports the oracles
  * read, the shared caches). One pass is one call of every operation;
  * session caches are dropped between passes so every pass does the whole
  * work, as `graft.Bench` does.
  */
final class Workload(val name: String, dir: String, layered: Seq[(String, String)]) {
  private val known = SparkEntry.queries
  layered.foreach { case (q, _) => require(known.contains(q), s"unknown query $q") }
  private val layerOf = layered.toMap

  /** Operation names in run order. */
  val ops: Seq[String] = known.keys.toSeq.filter(layerOf.contains)

  def layer(op: String): String = layerOf(op)

  def build(spark: SparkSession, op: String): DataFrame = known(op)(spark, dir)

  def reset(spark: SparkSession): Unit = {
    SparkEntry.clearSessionCaches(spark)
    spark.catalog.clearCache()
  }
}

object Workloads {
  /** The fixed operation → layer table. Every layer is measured on one
    * workload; each list is a subset of its operator families, sized so a
    * run fits the benchmark's time budget. `signals` holds the window
    * chain over the signal set and one plot melt, so window compute
    * dominates it; the layers whose calls are mostly fixed per-call cost
    * (streaming, sources and the relational ones) ride on `corpus`. */
  val signals: Seq[(String, String)] = Seq(
    "opset_get" -> "core", "sg_indicator" -> "dsp", "instants_epsilon" -> "instants",
    "tube_fit1" -> "tubes", "plot_double" -> "plots")

  val corpus: Seq[(String, String)] = Seq(
    "mm_phash" -> "llm", "dedup_phash_clusters" -> "llm", "dedup_semantic" -> "llm",
    "source_warc" -> "sources", "pca_circle" -> "analysis", "events_sessions" -> "events",
    "graph_triangles_hub" -> "graph", "stream_argmax" -> "streaming")

  def apply(name: String, dir: String): Workload = name match {
    case "signals" => new Workload(name, dir, signals)
    case "corpus"  => new Workload(name, dir, corpus)
    case other     => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
