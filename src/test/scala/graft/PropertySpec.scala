package graft

import graft.ops.Num
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator-driven properties from SURVEY §5.3: double-entry
  * conservation, cumulative-balance consistency, cluster partitioning.
  * Generators are sampled with fixed seeds (no scalatestplus bridge in the
  * offline dependency set), so runs are reproducible. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val transferGen = Gen.listOfN(30, for {
    from <- Gen.choose(0, 5)
    to <- Gen.choose(0, 5)
    cents <- Gen.choose(1L, 100000L)
    ts <- Gen.choose(0L, 50L * 3600)
  } yield (from.toString, to.toString, cents / 100.0, ts))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: closed-universe double entry sums to zero") {
    samples(transferGen, 5).foreach { rows =>
      val t = rows.toDF("from_address", "to_address", "value", "transact_at")
      val legs = t.select(col("from_address").as("a"), negate(col("value")).as("d"))
        .unionByName(t.select(col("to_address").as("a"), col("value").as("d")))
      val total = legs.agg(Num.dsum(col("d"))).as[Double].head()
      assert(total == 0.0)
    }
  }

  test("property: final cumulative balance equals per-address delta sum") {
    samples(transferGen, 5).foreach { rows =>
      val t = rows.toDF("from_address", "to_address", "value", "transact_at")
      val legs = t.select(col("from_address").as("address"),
          Num.hourBucket(col("transact_at")).as("t"), negate(col("value")).as("delta"))
        .unionByName(t.select(col("to_address").as("address"),
          Num.hourBucket(col("transact_at")).as("t"), col("value").as("delta")))
      val hourly = legs.groupBy("address", "t")
        .agg(sum(col("delta").cast(org.apache.spark.sql.types.DecimalType(25, 2))).as("dd"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("address").orderBy("t")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val bal = hourly.withColumn("b", sum(col("dd")).over(w))
      val mismatch = bal.groupBy("address")
        .agg(max_by(col("b"), col("t")).as("fin"), sum("dd").as("tot"))
        .filter(col("fin") =!= col("tot")).count()
      assert(mismatch == 0)
    }
  }

  test("property: cluster buckets are a partition (disjoint, exhaustive)") {
    samples(Gen.listOfN(20, Gen.choose(1L, 40L)), 5).foreach { counts =>
      val df = counts.toDF("n")
        .withColumn("c", graft.ops.Clusters.clusterOf(col("n")))
      assert(df.filter(col("c").isNull).count() == 0)
      val perRow = df.withColumn("m",
        (col("n") < 10).cast("int") + (col("n") >= 10 && col("n") < 20).cast("int")
          + (col("n") >= 20).cast("int"))
      assert(perRow.filter(col("m") =!= 1).count() == 0)
    }
  }

  test("determinism: running a catalog query twice yields identical bytes") {
    val q = SparkEntry.queries("q_volume_hourly")
    val a = q(spark, GraftSpark.Sf).collect()
    val b = q(spark, GraftSpark.Sf).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("property: jsonLog round-trips through from_json with sorted keys") {
    import graft.ops.ChangeLogs
    import org.apache.spark.sql.types._
    val entriesGen = Gen.listOfN(12, for {
      k <- Gen.choose(0L, 20L)
      cents <- Gen.choose(-100000L, 100000L)
    } yield (k, cents / 100.0))
    samples(entriesGen, 5).foreach { rows =>
      val distinctKeys = rows.distinctBy(_._1) // unique map keys per group
      val df = distinctKeys.map { case (k, v) => ("g", k, v) }.toDF("g", "k", "v")
        .repartition(3)
      val json = df.groupBy("g")
        .agg(ChangeLogs.jsonLog(col("k"),
          col("v").cast("decimal(25,2)").cast("string")).as("log"))
      val back = json
        .select(explode(from_json(col("log"), MapType(StringType, DoubleType)))
          .as(Seq("k", "v")))
        .select(col("k").cast("long").as("k"), col("v"))
        .as[(Long, Double)].collect().toSet
      assert(back == distinctKeys.toSet)
      // key ORDER inside the string is ascending, at any partitioning
      val keysInOrder = json
        .select(expr("transform(map_keys(from_json(log, 'map<string,double>')), x -> CAST(x AS BIGINT))"))
        .as[Seq[Long]].head()
      assert(keysInOrder == distinctKeys.map(_._1).sorted)
    }
  }

  test("property: deletion-neighborhood linkage equals naive all-pairs") {
    // the SymSpell blocking's correctness rests on the pigeonhole argument
    // (ed(s,t) <= k ⇒ the ≤k-deletion neighborhoods intersect); verify it
    // against a classic Wagner-Fischer reference on random short strings
    // over a 3-letter alphabet (dense with near-pairs, indels and empties)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val nameGen = for {
      len <- Gen.choose(0, 9)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val tableGen = Gen.listOfN(40, for {
      n <- nameGen; nat <- Gen.choose(0, 1)
    } yield (n, nat))
    samples(tableGen, 4).foreach { rows =>
      val dir = util.TempDirs.staging("graft_linkprop").toString
      rows.zipWithIndex.map { case ((n, nat), k) =>
        (k.toLong, n, nat, 0.0, "SEG") }
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val got = graft.ops.Membership.nameLinkage(spark, dir)
        .as[(Long, Long, Int)].collect().toSet
      val naive = (for {
        a <- rows.indices; b <- rows.indices
        if a < b && rows(a)._2 == rows(b)._2
        d = lev(rows(a)._1, rows(b)._1) if d <= graft.ops.Membership.LinkMaxDist
      } yield (a.toLong, b.toLong, d)).toSet
      assert(got == naive)
    }
  }

  test("property: prefix-filtered set-sim join equals naive all-pairs") {
    // the prefix filter's correctness rests on the rare-first-order
    // pigeonhole (J >= τ ⇒ a shared token inside both prefixes); verify
    // against naive all-pairs Jaccard on random short documents over a
    // tiny vocabulary (dense with partial overlaps and boundary-τ pairs)
    val docGen = for {
      len <- Gen.choose(3, 10)
      ws <- Gen.listOfN(len, Gen.oneOf("ax", "bx", "cx", "dx", "ex"))
    } yield ws.mkString(" ")
    val corpusGen = Gen.listOfN(25, docGen)
    samples(corpusGen, 4).foreach { texts =>
      val dir = util.TempDirs.staging("graft_ssjprop").toString
      texts.zipWithIndex.map { case (t, k) => (k.toLong, t, "en", "src0") }
        .toDF("doc_id", "text", "lang", "source").selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.ops.Dedup.setSimJoin(spark, dir)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      def shingleSet(t: String): Set[String] = {
        val toks = t.trim.split("\\s+").toSeq
        if (toks.length < 3) Set.empty
        else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = texts.map(shingleSet)
      val naive = (for {
        a <- sets.indices; b <- sets.indices
        if a < b && sets(a).nonEmpty && sets(b).nonEmpty
        o = (sets(a) & sets(b)).size
        if o * graft.ops.Dedup.SetSimTauDen >=
          graft.ops.Dedup.SetSimTauNum * (sets(a).size + sets(b).size - o)
      } yield (a.toLong, b.toLong)).toSet
      assert(got == naive)
    }
  }

  test("property: morton z-value round-trips and preserves bit order") {
    // reference implementation: interleave bit-by-bit in plain Scala
    def refZ(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      z
    }
    val pairGen = for {
      a <- Gen.choose(0L, 65535L)
      b <- Gen.choose(0L, 65535L)
    } yield (a, b)
    val pairs = samples(Gen.listOfN(200, pairGen), 3).flatten.distinct
    val got = pairs.toDF("a", "b")
      .withColumn("z", expr(graft.ops.Layout.sparkZ("a", "b")))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) =>
      assert(z == refZ(a, b), s"z($a, $b) = $z, expected ${refZ(a, b)}")
    }
  }

  test("property: distribution rank selection equals naive sorted index") {
    // the shared order-statistic move (winsorize p95, the tf-idf df cap):
    // cumulate the VALUE DISTRIBUTION, pick the smallest value whose
    // cumulative count reaches ceil(p·n) — must equal sorting the raw
    // list and indexing, for any multiset and any p
    val listGen = Gen.listOfN(80, Gen.choose(0L, 25L)) // heavy ties
    for (p <- Seq(0.5, 0.8, 0.95); (rows, i) <- samples(listGen, 4).zipWithIndex) {
      val df = rows.toDF("x")
      val dist = df.groupBy("x").agg(count(lit(1)).as("c"))
      val got = dist
        .withColumn("cum", sum("c").over(
          org.apache.spark.sql.expressions.Window.orderBy("x")))
        .filter(col("cum") >= ceil(lit(rows.length).cast("double") * lit(p)))
        .agg(min("x")).as[Long].head()
      val expected = rows.sorted.apply(math.ceil(rows.length * p).toInt - 1)
      assert(got == expected, s"p=$p sample=$i: got $got expected $expected")
    }
  }

  test("property: kCore equals a naive peel on random graphs") {
    def naivePeel(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
      var adj = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var changed = true
      while (changed) {
        val drop = adj.filter(_._2.size < k).keySet
        changed = drop.nonEmpty
        adj = (adj -- drop).map { case (v, ns) => v -> (ns -- drop) }
      }
      adj.map { case (v, ns) => v -> ns.size }
    }
    val edgeGen = Gen.listOfN(40, for {
      a <- Gen.choose(0L, 19L); b <- Gen.choose(0L, 19L)
    } yield (a, b))
    samples(edgeGen, 4).foreach { edges =>
      // maxIter raised above the catalog's 8-round oracle contract: random
      // sparse graphs can peel in long chains; the LIBRARY handles any
      // depth, the bound is only the oracle-mirroring contract
      val got = graft.ops.Graph.kCore(edges.toDF("src", "dst"), k = 3,
        maxIter = 40).as[(Long, Long)].collect()
        .map { case (v, d) => v -> d.toInt }.toMap
      assert(got == naivePeel(edges, 3))
    }
  }
}
