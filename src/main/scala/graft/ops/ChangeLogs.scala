package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic change-log assembly (SURVEY §7.1): collapse (key, value) rows
  * into the reference's signature `Map[timestamp → value]` column shape
  * (A9/C9, reference: src/main/scala/etl/BaseEnricher.scala:162-177 and six
  * siblings) — deterministically: entries are sorted before `map_from_entries`
  * (the reference's unordered `collect_list` makes map key order
  * run-dependent, SURVEY §7.4.1).
  *
  * Scale note: the reference collapses each metric to ONE global row —
  * all-to-one skew at scale. [[perKey]] is the grouped form (one map per
  * group key, as WalletEnricher already does), which spreads the collapse
  * across the key space; use [[global]] only for per-token frames that are
  * already small.
  */
object ChangeLogs {

  /** Aggregate: the group's `map<mapKey, mapValue>`, entries sorted by key. */
  def mapLog(mapKey: Column, mapValue: Column): Column =
    map_from_entries(array_sort(collect_list(struct(mapKey, mapValue))))

  /** One map column per group key. */
  def perKey(df: DataFrame, groupKey: Column, mapKey: Column, mapValue: Column,
      as: String): DataFrame =
    df.groupBy(groupKey).agg(mapLog(mapKey, mapValue).as(as))

  /** Map over an already key-sorted entry array: element `e` becomes the
    * entry `key(e) → value(e)` (the non-aggregate twin of [[perKey]]). */
  def mapOf(entries: Column, key: Column => Column,
      value: Column => Column): Column =
    map_from_entries(transform(entries, e => struct(key(e), value(e))))

  /** Whole-frame collapse to a single map row (the reference's shape). */
  def global(df: DataFrame, mapKey: Column, mapValue: Column,
      as: String): DataFrame =
    df.groupBy().agg(mapLog(mapKey, mapValue).as(as))

  // ── JSON-string change logs ──────────────────────────────────────────
  // The map-typed forms above are the library surface; hash-based harnesses
  // (and DuckDB string_agg oracles) need a flat, byte-stable rendering. The
  // helpers below build the JSON text explicitly — every numeric value is
  // rendered through DECIMAL casts or fixed-precision printf, never raw
  // double toString, so Spark and DuckDB produce identical bytes.

  /** Aggregate: `{"k1":v1,"k2":v2,…}` with entries sorted by key. `jsonValue`
    * must already be a valid JSON fragment (number / boolean / object /
    * quoted string); keys render unquoted via CAST(.. AS STRING). */
  def jsonLog(mapKey: Column, jsonValue: Column): Column =
    jsonObject(
      array_sort(collect_list(struct(mapKey.as("k"), jsonValue.as("j")))),
      _("k"), _("j"))

  /** `{"k1":v1,…}` over an already key-sorted entry array: element `e`
    * renders as key `key(e)` and JSON fragment `json(e)`; a null fragment
    * drops its entry (the non-aggregate twin of [[jsonLog]]). */
  def jsonObject(entries: Column, key: Column => Column,
      json: Column => Column): Column =
    concat(lit("{"),
      concat_ws(",", transform(entries, e =>
        concat(lit("\""), key(e).cast("string"), lit("\":"), json(e)))),
      lit("}"))

  /** JSON boolean fragment. */
  def jsonBool(c: Column): Column =
    when(c, lit("true")).otherwise(lit("false"))

  /** JSON array of (escape-free) strings: `["a","b"]`, `[]` when empty. */
  def jsonStrArray(arr: Column): Column =
    when(size(arr) === 0, lit("[]"))
      .otherwise(concat(lit("[\""), concat_ws("\",\"", arr), lit("\"]")))
}
