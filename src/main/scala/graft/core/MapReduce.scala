package graft.core

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TokenUtil

/** The reference framework's API contract, re-expressed Spark-typed.
  *
  * The reference (`/root/reference/mapreduce.h:120-213`) wires N mapper
  * threads to one reducer through bounded per-mapper ring buffers:
  * `mr_create(map_fn, reduce_fn, threads, buffer_size)` →
  * `mr_start(in, out)` → mappers `mr_produce(kv)` → reducer
  * `mr_consume(id, kv)` → `mr_finish`.
  *
  * On Spark the same contract is declarative: the mapper fan-out is
  * input partitioning, the kv hand-off is the shuffle, and the reducer
  * is a keyed aggregation. We do NOT reproduce the single-reducer
  * bottleneck — the whole point of the Spark re-expression is that the
  * reduce side scales out with the key space, which is what survives
  * at 100 TB (the reference's one reducer thread would not).
  *
  * `run` is the typed generic form; the shipped workloads (word count,
  * grep, inverted index — `graft.operators.TextMR`) use the equivalent
  * DataFrame form so they stay inside WholeStageCodegen.
  */
object MapReduce {

  /** map_fn: one input record → zero or more (K, V) pairs
    * (mapreduce.h:49 `map_fn` + mapreduce.h:180 `mr_produce`). */
  type MapFn[I, K, V] = I => IterableOnce[(K, V)]

  /** reduce_fn: combine two values for the same key
    * (mapreduce.h:57 `reduce_fn` + mapreduce.h:196 `mr_consume`).
    * Must be associative — Spark applies it map-side (partial
    * aggregation) before the shuffle, unlike the reference which
    * ships every pair to the reducer. */
  type ReduceFn[V] = (V, V) => V

  def run[I, K: Encoder, V: Encoder](input: Dataset[I])(map: MapFn[I, K, V])(
      reduce: ReduceFn[V])(implicit kv: Encoder[(K, V)]): Dataset[(K, V)] =
    input
      .flatMap(map(_))(kv)
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, reduce(a._2, b._2)))
      .map(_._2)(kv)

  /** Convenience: word count over a Dataset of lines — the reference's
    * flagship workload (`test.sh` / `bin/mr-wordc.o`) — with the
    * letter tokens of [[graft.functions.TokenUtil]]'s byte scan. */
  def wordCount(lines: Dataset[String])(implicit
      spark: SparkSession): Dataset[(String, Long)] = {
    import spark.implicits._
    run(lines) { line =>
      val toks = TokenUtil.tokens(UTF8String.fromString(line), includeDigits = false)
      Iterator.tabulate(toks.numElements())(i => toks.getUTF8String(i).toString -> 1L)
    }(_ + _)
  }
}
