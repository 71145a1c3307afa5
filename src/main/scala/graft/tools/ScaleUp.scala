package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for benchmark falsification: replicates a
  * test-data directory `factor`× with per-replica key offsets, so row
  * counts grow linearly while every foreign-key relationship stays
  * intact (replica i's orders reference replica i's customers, etc.).
  * Dimension tables (region, nation) are copied once — exactly how a
  * real catalog scales.
  *
  * This exists to answer "does the sub-second sf0.1 fixed overhead
  * amortize at 10× the data, or does the engine scale worse than the
  * single-node baseline?" — a claim that must be measured, not
  * asserted. Usage:
  *
  * {{{ runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10 }}}
  *
  * Key offset is 2³³ per replica: far above any key in the source data,
  * far below Long overflow at any plausible factor.
  *
  * A fourth argument `zipf` enables the SKEWED mode: same replication,
  * but [[SkewFrac]] of orders/lineitems/events have their FK
  * (o_custkey / l_orderkey / user_id) redirected to [[HotKeys]] global
  * heavy hitters with ~1/rank mass ([[skewFk]]), and the same fraction
  * of embeddings are overwritten with [[HotKeys]] hot VECTORS
  * ([[skewEmbeddings]] — the adversarial distribution for ANN recall).
  * Uniform replication keeps every per-key group at source size, so it
  * can never falsify the skew claims (AQE skew-join splitting, salting,
  * window-partition hot keys) — this mode exists to do exactly that.
  *
  * A `gauss` mode (round-14) regenerates the embeddings table as
  * clustered anisotropic Gaussians ([[gaussEmbeddings]]) — the
  * probative distribution for ANN recall curves, where neither exact
  * duplication nor tie-degeneracy can mask index degradation;
  * `gauss-only` writes just that table (reuse a scaled directory's
  * other tables via copies/symlinks).
  */
object ScaleUp {

  val Offset = 1L << 33

  /** Key columns to shift per replica, per table. Text/value columns
    * are left as-is: content distributions don't change with scale.
    */
  val keyCols: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id")
  )

  val dims = Seq("region", "nation")

  /** One scan, not `factor` scans: explode a replica-id array per row and
    * shift each key by `replica * Offset`. A `unionAll` of `factor`
    * branches re-reads the source per replica and hands Catalyst a plan
    * whose size grows with the factor — fine at 10×, hostile at 1000×.
    * The input is repartitioned first so the explosion parallelizes
    * (small sources arrive as one file = one partition).
    */
  def scaleTable(df: DataFrame, keys: Seq[String], factor: Int): DataFrame = {
    val exploded = df
      .repartition(32)
      .withColumn("__rep", explode(sequence(lit(0L), lit(factor - 1L))))
    keys.foldLeft(exploded) { (d, k) =>
      d.withColumn(k, col(k) + col("__rep") * Offset)
    }.drop("__rep")
  }

  /** Zipfian FK redirect for the skewed mode: `skewFrac` of rows (chosen
    * by value-hash of `pk` — deterministic, layout-independent) have
    * their `fk` redirected to one of `hotKeys`, rank-picked log-uniform
    * so hot-key mass follows ~1/rank (Zipf s≈1). The redirect happens
    * AFTER replica key-offsetting, so every replica's redirected rows
    * land on the SAME replica-0 hot keys — global heavy hitters whose
    * share grows with the factor, exactly the shape uniform replication
    * can never produce (its per-key counts stay flat at source level,
    * which is why the sf100 survival run exercised none of the
    * AQE-skew/salting machinery).
    *
    * Referential integrity is preserved by construction: `hotKeys` are
    * values read from the referenced table itself.
    */
  def skewFk(df: DataFrame, pk: String, fk: String, hotKeys: Seq[Long],
             skewFrac: Double): DataFrame = {
    require(hotKeys.nonEmpty && skewFrac > 0 && skewFrac < 1)
    val h = hotKeys.length
    // u ∈ [0,1) from a value hash — independent of the redirect decision
    // hash (different salt), so rank is uniform within the hot set
    val u = pmod(xxhash64(col(pk), lit(1)), lit(1000000L)).cast("double") / 1000000.0
    // log-uniform 0-based rank over [0,h): P(rank=r) = ln((r+2)/(r+1))
    // ∝ ~1/(r+1). ln(h+1), NOT ln(h): floor(exp(u·ln h)) tops out at
    // h-1 so rank h-1 — the LAST hot key — would get exactly zero mass
    // (round-12 review finding); with ln(h+1) the floor spans [1,h] and
    // the `least` guards only the u→1 edge
    val rank =
      least(floor(exp(u * log(lit(h + 1.0)))).cast("long") - 1, lit(h - 1L))
    val redirect =
      pmod(xxhash64(col(pk), lit(2)), lit(1000L)) < lit((skewFrac * 1000).toLong)
    df.withColumn(fk,
      when(redirect, element_at(typedLit(hotKeys), (rank + 1).cast("int")))
        .otherwise(col(fk)))
  }

  /** First `n` key values of the referenced table, by key order —
    * deterministic hot-key set, guaranteed to exist.
    */
  private def firstKeys(df: DataFrame, key: String, n: Int): Seq[Long] = {
    import org.apache.spark.sql.Row
    df.select(key).orderBy(key).limit(n).collect()
      .map { case Row(k: Long) => k }.toSeq
  }

  /** Zipfian VECTOR duplication for the skewed mode's embeddings table:
    * [[SkewFrac]] of rows (same deterministic vec_id-hash rules as
    * [[skewFk]]) have their embedding (and label, kept consistent)
    * replaced with one of `hot` vectors, rank-picked ~1/rank. Uniform
    * replication repeats each source vector exactly `factor` times —
    * every duplicate group the same size — so it can never falsify the
    * ANN-recall claims under an adversarial distribution: massed exact
    * ties mean the exact top-k itself is tie-degenerate and the
    * IVF/PQ samplers see a few centroids carrying 20% of the corpus.
    * This mode produces exactly that shape.
    */
  def skewEmbeddings(df: DataFrame, hot: Seq[(Seq[Float], Int)]): DataFrame = {
    require(hot.nonEmpty)
    val h = hot.length
    val u = pmod(xxhash64(col("vec_id"), lit(1)), lit(1000000L))
      .cast("double") / 1000000.0
    // ln(h+1) for the same zero-mass-at-rank-h-1 reason as [[skewFk]]
    val rank =
      least(floor(exp(u * log(lit(h + 1.0)))).cast("long") - 1, lit(h - 1L))
    val idx = (rank + 1).cast("int")
    val redirect =
      pmod(xxhash64(col("vec_id"), lit(2)), lit(1000L)) < lit((SkewFrac * 1000).toLong)
    df.withColumn("embedding",
        when(redirect, element_at(typedLit(hot.map(_._1)), idx))
          .otherwise(col("embedding")))
      .withColumn("label",
        when(redirect, element_at(typedLit(hot.map(_._2)), idx))
          .otherwise(col("label")))
  }

  /** First `n` embeddings (by vec_id) as the hot vector set. */
  private def firstVectors(df: DataFrame, n: Int): Seq[(Seq[Float], Int)] =
    df.orderBy("vec_id").limit(n).collect()
      .map(r => (r.getSeq[Float](r.fieldIndex("embedding")),
        r.getInt(r.fieldIndex("label")))).toSeq

  /** splitmix64 step — the deterministic per-row PRNG for the gauss
    * mode (no Math.random on executors: every row's vector is a pure
    * function of its vec_id, so reruns and retries agree).
    */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0,1) from a splitmix state. */
  @inline private def unit(z: Long): Double =
    (z >>> 11).toDouble / (1L << 53).toDouble

  /** Clustered anisotropic Gaussian embeddings — the round-14 recall-
    * curve distribution (verdict-r13 #2): the zipf mode's exact-tie
    * vector masses make ground truth tie-degenerate, so recall 1.0 is
    * achievable by construction and under-probative. This mode keeps
    * the scaled vec_ids/labels but REGENERATES every embedding as
    * center[cluster] + sigma ⊙ noise with `nClusters` anisotropic
    * clusters (per-cluster, per-dim sigmas), no exact duplication
    * anywhere — approximate indexes genuinely trade recall for work.
    * Deterministic: centers/sigmas from the cluster id, noise from the
    * vec_id, both via splitmix64.
    */
  def gaussEmbeddings(df: DataFrame, dim: Int = 64,
                      nClusters: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("vec_id").as[Long].mapPartitions { it =>
      it.map { id =>
        val cluster = ((mix(id) & Long.MaxValue) % nClusters).toInt
        // per-cluster center on a radius-1 shell-ish; per-dim sigma in
        // [0.02, 0.32], quadratically shaped so some axes are tight and
        // some wide (anisotropy) — both keyed off the cluster id alone
        val v = new Array[Float](dim)
        var z = id * 0x5851F42D4C957F2DL + 0x14057B7EF767814FL // noise stream
        var zc = cluster.toLong * 0x9E3779B97F4A7C15L + 1L // cluster stream
        var i = 0
        while (i < dim) {
          zc = mix(zc)
          val center = 2.0 * unit(zc) - 1.0
          zc = mix(zc)
          val su = unit(zc)
          val sigma = 0.02 + 0.3 * su * su
          // Box-Muller from two row-keyed uniforms
          z = mix(z)
          val u1 = math.max(unit(z), 1e-12)
          z = mix(z)
          val u2 = unit(z)
          val n = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
          v(i) = (center + sigma * n).toFloat
          i += 1
        }
        (id, cluster % 8, v)
      }
    }.toDF("vec_id", "label", "embedding")
  }

  /** Skewed-mode FK redirects: (table, pk, fk, referenced table, key).
    * q3/q18-family joins see hot order/customer keys; the event family
    * (sessionize, as-of, hourly `n_users`) sees hot users.
    */
  val SkewFrac = 0.2
  val HotKeys = 64

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleUp <inDir> <outDir> <factor> [zipf|gauss|gauss-only]")
    val in = args(0); val out = args(1); val factor = args(2).toInt
    require(args.length == 3 || Set("zipf", "gauss", "gauss-only")(args(3)),
      s"unknown mode '${args(3)}': zipf, gauss or gauss-only")
    val zipf = args.length == 4 && args(3) == "zipf"
    val gauss = args.length == 4 && args(3).startsWith("gauss")
    // gauss-only: write JUST the regenerated embeddings table (the
    // other tables are unchanged by the gauss mode — reuse an existing
    // scaled directory beside it instead of duplicating 10+ GB)
    val gaussOnly = args.length == 4 && args(3) == "gauss-only"
    // GraftSession's nanosAsLong: if events.ts is the old
    // TIMESTAMP(NANOS) layout, it is read and written back as a raw
    // long; a plain-micros layout round-trips as timestamp[us]
    // untouched. Either way the scaled directory stays readable by
    // Tables' schema-probing load.
    val spark = graft.GraftSession.local()
    if (!gaussOnly) dims.foreach { t =>
      spark.read.parquet(s"$in/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // (table, its pk for the hashes, fk to redirect, referenced table+key)
    val skews: Seq[(String, String, String, String, String)] =
      if (!zipf) Nil
      else Seq(
        ("orders",   "o_orderkey", "o_custkey",  "customer", "c_custkey"),
        ("lineitem", "l_linenumber_pk", "l_orderkey", "orders", "o_orderkey"),
        ("events",   "event_id",   "user_id",    "events",   "user_id"))
    val hotSets: Map[String, Seq[Long]] = skews.map { case (t, _, fk, ref, rk) =>
      (t + "." + fk, firstKeys(spark.read.parquet(s"$in/$ref.parquet"), rk, HotKeys))
    }.toMap
    val hotVecs =
      if (zipf) firstVectors(spark.read.parquet(s"$in/embeddings.parquet"), HotKeys)
      else Nil
    keyCols.filter { case (t, _) => !gaussOnly || t == "embeddings" }
      .foreach { case (t, keys) =>
      val scaled0 = scaleTable(spark.read.parquet(s"$in/$t.parquet"), keys, factor)
      val scaled =
        if (zipf && t == "embeddings") skewEmbeddings(scaled0, hotVecs)
        else if (gauss && t == "embeddings") gaussEmbeddings(scaled0)
        else scaled0
      val skewed = skews.find(_._1 == t) match {
        case Some((_, pk, fk, _, _)) =>
          // lineitem has no single-column pk: hash the (orderkey, line
          // number) pair via a synthetic column
          val (withPk, pkCol) =
            if (t == "lineitem")
              (scaled.withColumn("__pk",
                col("l_orderkey") * 16 + col("l_linenumber")), "__pk")
            else (scaled, pk)
          skewFk(withPk, pkCol, fk, hotSets(t + "." + fk), SkewFrac).drop("__pk")
        case None => scaled
      }
      skewed.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"""{"scaled":"$out","factor":$factor,"zipf":$zipf,"gauss":$gauss}""")
    spark.stop()
  }
}
