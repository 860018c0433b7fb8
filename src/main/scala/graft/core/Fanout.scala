package graft.core

import org.apache.spark.sql.DataFrame

/** Scan-parallelism repair for per-row-EXPENSIVE chains (the guide-§2.5
  * "one unsplittable input file" fix, applied adaptively).
  *
  * A single-row-group parquet file yields exactly one scan task no matter
  * how `maxPartitionBytes` is set (row groups are the atomic split unit),
  * so every map-side chain above it — shingle hashing, HTML extraction,
  * image decode, hashed embeddings — runs on ONE core while the rest of
  * the machine idles (measured: the whole MinHash signature chain at
  * run ≈ wall on local[32]). [[fanOut]] round-robins such a scan out to
  * the session's default parallelism; a scan that already has at least
  * that many partitions (any production-scale input) passes through
  * UNTOUCHED, so no shuffle is ever added where the data is already wide
  * — this is a floor on parallelism, not a tuned constant.
  *
  * Caller contract:
  *  - batch DataFrames only (a streaming plan has no partition count to
  *    probe), rooted in scans/row-local projections (no upstream
  *    exchange: the probe plans the physical RDD, and under AQE an
  *    exchange-bearing plan could materialize stages);
  *  - only above ROW-LOCAL work (projections, filters, explodes, and
  *    aggregations whose results are partitioning-independent) — never
  *    above order- or partition-sensitive operators, and never below a
  *    float aggregation whose summation order the caller needs pinned
  *    (partials change with partitioning).
  */
object Fanout {
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // composition guard: a plan already carrying an explicit repartition
    // was already width-repaired (or deliberately narrowed) by a caller —
    // and probing ITS rdd would pre-execute the repartition's upstream
    // stages under AQE, paying the scan twice. Plan inspection only; no
    // execution.
    // ...and fail-safe guard: a plan with its own exchange-bearing
    // operators (joins, aggregates, windows, global sorts) is outside the
    // documented contract — the rdd probe below would MATERIALIZE those
    // upstream stages under AQE, paying the scan early and possibly
    // twice. Pass such plans through untouched instead of silently
    // double-executing; the caller that needs width above an exchange
    // should set it on the exchange itself (see Opset.fromEvents: its
    // record exchange takes the width `wide = true` asks for).
    // A cached frame (InMemoryRelation leaf) is safe: its probe plans the
    // cache read without executing the cached subtree.
    import org.apache.spark.sql.catalyst.plans.logical._
    val guarded = df.queryExecution.optimizedPlan.collectFirst {
      case r: Repartition => r
      case r: RepartitionByExpression => r
      case j: Join => j
      case a: Aggregate => a
      case w: Window => w
      case s: Sort if s.global => s
    }.isDefined
    if (guarded) df
    else if (df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }
}
