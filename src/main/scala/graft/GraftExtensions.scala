package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions

/**
 * SparkSessionExtensions entry point: lets any consumer enable the engine's
 * native functions in plain SQL without calling Scala registration code —
 *
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 *   spark.sql("SELECT k, max_row_by_long(struct(*), lsn) FROM changes GROUP BY k")
 *
 * Registered:
 *  - max_row_by_long(value, ord): native arg-max TypedImperativeAggregate
 *    (ObjectHashAggregate, map-side partial combine) — the CDC fold without
 *    built-in max_by's SortAggregate fallback.
 *
 * Session-local registration (`GraftFunctions.register`) remains for
 * programmatic use; this class is the zero-code-change deployment path.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectFunction(GraftFunctions.maxRowByLong)
}
