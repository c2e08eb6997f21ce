package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator: replicate an sfDir's FACT tables `k`×
  * with disjoint key spaces, keeping dimensions fixed — the shape real
  * growth takes (facts outpace dims), used to validate the engine's
  * 100 TB design claims against actual data growth (PERF.md scale table).
  *
  * Replica design (r = 0..k-1, r=0 is the original):
  *  - `customer`: custkey += r·|C|, name rebuilt as Customer#%09d of the
  *    NEW key — preserves the name↔key invariant so linkage blocking sees
  *    genuinely new names, not k copies of each name (which would measure
  *    duplicate blowup, not algorithmic scaling).
  *  - `documents`: doc_id += r·|D|, every token suffixed with the replica
  *    tag for r>0 — replicas are disjoint dedup subproblems, so
  *    MinHash/SimHash/Jaccard growth is measured at k× corpus size
  *    instead of on a corpus where EVERYTHING has k−1 exact twins.
  *  - `embeddings`: vec_id += r·|V|, components circularly rotated by r —
  *    within-replica geometry (and label structure) is preserved exactly;
  *    across replicas vectors decorrelate, spreading LSH/IVF buckets the
  *    way fresh data would.
  *  - `events`: event_id += r·|E|, user_id += r·U_max. NOTE the derived
  *    transfers view caps to_address at 1000 hubs, so the transfer graph
  *    gets k× DENSER on the receiver side rather than k× wider — graph
  *    queries at sf1 measure a denser graph (documented in PERF.md).
  *  - `orders`/`lineitem`: orderkey += r·|O|, o_custkey += r·|C| (intact
  *    per-replica referential integrity); part/supp keys untouched (fixed
  *    dims).
  *  - `nation`/`region`/`part`/`supplier`: copied as-is.
  *
  * Everything is one narrow projection over a replica-id explode — no
  * shuffle, runs at any source size.
  */
object ScaleGen {

  private def amplified(df: DataFrame, k: Int): DataFrame =
    df.crossJoin(
      org.apache.spark.sql.SparkSession.active.range(k).select(col("id").as("_r")))

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = args(2).toInt
    // optional 4th arg: comma-list of tables to generate (default: all) —
    // a 100× documents-only corpus for the dedup-spine posture measurement
    // (PERF.md) does not need 100× lineitem written alongside it
    val wanted = args.lift(3).map(_.split(",").toSet)
    def want(name: String): Boolean = wanted.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Session.local(cpus)

    def write(df: DataFrame, name: String): Unit =
      if (want(name)) df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    def copy(name: String): Unit =
      if (want(name)) write(graft.Tables.table(spark, src, name), name)

    lazy val nCust = graft.Tables.customer(spark, src).count()
    if (want("customer")) write(amplified(graft.Tables.customer(spark, src), k)
      .withColumn("c_custkey", col("c_custkey") + col("_r") * nCust)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .drop("_r"), "customer")

    lazy val nDoc = graft.Tables.documents(spark, src).count()
    if (want("documents")) write(amplified(graft.Tables.documents(spark, src), k)
      .withColumn("doc_id", col("doc_id") + col("_r") * nDoc)
      .withColumn("text", when(col("_r") === 0, col("text")).otherwise(
        concat_ws(" ", expr(
          "transform(split(trim(text), '\\\\s+'), t -> concat(t, 'x', _r))"))))
      .withColumn("n_chars", length(col("text")))
      .drop("_r"), "documents")

    lazy val nVec = graft.Tables.embeddings(spark, src).count()
    if (want("embeddings")) write(amplified(graft.Tables.embeddings(spark, src), k)
      .withColumn("vec_id", col("vec_id") + col("_r") * nVec)
      // rotate by _r MOD dims: k may exceed the vector dimension (k=100
      // replicas of 64-dim vectors), where an un-wrapped rotation asks
      // slice for a negative length
      .withColumn("embedding", expr(
        """concat(slice(embedding, cast(_r % size(embedding) as int) + 1,
          |             size(embedding) - cast(_r % size(embedding) as int)),
          |       slice(embedding, 1, cast(_r % size(embedding) as int)))"""
          .stripMargin))
      .drop("_r"), "embeddings")

    // Tables.events normalizes any on-disk ts encoding to canonical
    // epoch-nanos long; the amplified copy is written as plain INT64
    // nanos, which exercises the LongType branch of the normalizer (and
    // the directory `events.parquet/part-*` layout) in ScaleCheck runs
    lazy val ev = graft.Tables.events(spark, src)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    lazy val nEv = ev.count()
    lazy val uMax = ev.agg(max("user_id")).head().getLong(0) + 1
    if (want("events")) write(amplified(ev, k)
      .withColumn("event_id", col("event_id") + col("_r") * nEv)
      .withColumn("user_id", col("user_id") + col("_r") * uMax)
      .drop("_r"), "events")

    lazy val nOrd = graft.Tables.orders(spark, src).count()
    if (want("orders")) write(amplified(graft.Tables.orders(spark, src), k)
      .withColumn("o_orderkey", col("o_orderkey") + col("_r") * nOrd)
      .withColumn("o_custkey", col("o_custkey") + col("_r") * nCust)
      .drop("_r"), "orders")

    if (want("lineitem")) write(amplified(graft.Tables.lineitem(spark, src), k)
      .withColumn("l_orderkey", col("l_orderkey") + col("_r") * nOrd)
      .drop("_r"), "lineitem")

    Seq("nation", "region", "part", "supplier").foreach(copy)
    println(s"""{"scale_gen":"$dst","replicas":$k}""")
    spark.stop()
  }
}
