package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Column API over Spark's Bloom-filter sketch expressions.
  *
  * Catalyst ships `BloomFilterAggregate` / `BloomFilterMightContain` for
  * its own runtime row-level filtering but does not register them as SQL
  * functions; the catalogue ([[graft.GraftExtensions.functions]]) exposes
  * them as `bloom_agg(hash, items, bits)` and
  * `bloom_might_contain(filter, hash)` so engine operators can build and
  * probe a Bloom sketch fully inside the plan (distributed, partial-agg
  * mergeable build; codegen'd probe). The probe's filter argument must be
  * a CONSTANT (literal / scalar subquery) per the expression's own type
  * check — operators read the one-row build output as a bounded driver
  * scalar (the sketch is size-capped by construction) and inline it.
  */
object BloomExpressions {

  /** Aggregate: build a Bloom filter over `hash` (LongType, e.g.
    * xxhash64) sized for `items` expected entries in `bits` bits. Spark
    * caps both with `spark.sql.optimizer.runtime.bloomFilter.max*`; an
    * over-cap request degrades to a denser (higher-FP) filter, never an
    * error. Returns the serialized filter (binary), null on empty input.
    */
  def bloomAgg(hash: Column, items: Long, bits: Long): Column =
    call_function("bloom_agg", hash,
      org.apache.spark.sql.functions.lit(items),
      org.apache.spark.sql.functions.lit(bits))

  /** Probe: true iff `hash` may be in `filter` (no false negatives). */
  def mightContain(filter: Column, hash: Column): Column =
    call_function("bloom_might_contain", filter, hash)
}
