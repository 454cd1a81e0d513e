package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys — the manual fallback when a handful
  * of hot keys would funnel a shuffle join into a few giant tasks (AQE's
  * skew-join split handles sort-merge joins at runtime; salting is the
  * portable form that also covers aggregations and older planners).
  *
  * Mechanics: the fact side gets a round-robin salt from its row position
  * (`monotonically_increasing_id mod saltFactor` — uniform even when the
  * hot key's rows are byte-identical, where a row-content hash would put
  * them all in one bucket); the dimension side is exploded `saltFactor`×
  * so every (key, salt) bucket finds its dimension row. Each hot key's
  * rows spread over `saltFactor` tasks. The salt VALUE never affects the
  * result set (every salt matches an exploded dim copy), so task retries
  * re-salting differently are harmless; result-set equality with the
  * plain join is asserted in LayoutSkewSpec.
  */
object SkewJoin {

  /** Inner equi-join `fact ⋈ dim` on `key`, salted `saltFactor` ways.
    * `fact` columns survive; `dim` columns are prefixed as given. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(saltFactor)).cast("int"))
    val explodedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(explodedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Salt factor derived from the fact side's MEASURED hot-key share
    * instead of a guessed constant: the largest key's row fraction times
    * the session's parallelism — just enough buckets that the hot key's
    * per-task work matches a uniform partition's — clamped to
    * [1, maxFactor]. A uniform fact collapses to 1 (the salted join
    * becomes the plain join: no dim explosion, no wasted shuffle width);
    * a 100%-hot fact asks for full parallelism.
    *
    * Cost: one map-side-combined pre-aggregation over the fact's key
    * column — the exchange carries per-partition distinct-key partials,
    * never fact rows, so at 100 TB this is a cheap extra stage next to the
    * join it tunes (the same statistic AQE's skew detector reads from
    * shuffle files, available here BEFORE the first shuffle is planned). */
  def adaptiveSaltFactor(fact: DataFrame, key: String,
                         maxFactor: Int = 64): Int = {
    val r = fact.groupBy(col(key)).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")), sum(col("__c"))).head()
    if (r.isNullAt(1) || r.getLong(1) == 0L) 1
    else {
      val share = r.getLong(0).toDouble / r.getLong(1)
      val want = math.ceil(share * fact.sparkSession.sparkContext.defaultParallelism).toInt
      math.min(math.max(want, 1), maxFactor)
    }
  }

  /** [[saltedJoin]] with the salt factor self-tuned from the fact's
    * measured hot-key share ([[adaptiveSaltFactor]]). */
  def saltedJoinAdaptive(fact: DataFrame, dim: DataFrame, key: String,
                         maxFactor: Int = 64): DataFrame =
    saltedJoin(fact, dim, key, adaptiveSaltFactor(fact, key, maxFactor))

  /** PER-KEY salt factors — the refinement of [[adaptiveSaltFactor]]'s one
    * global number (r16): a single factor sized to the HOTTEST key makes
    * EVERY dim row explode that many times, so mild skew pays a dim-side
    * amplification it doesn't need. Here each key gets its own factor from
    * the measured histogram: keys at or below the uniform per-task share
    * keep factor 1 (no salting at all), a hot key gets
    * ceil(its rows / fair share) buckets — just enough that its per-task
    * work matches a uniform partition's — clamped to maxFactor. The
    * returned HOT-KEY table (key, __factor) holds ONLY factor>1 keys:
    * empty for a uniform fact, and tiny by the skew premise (if many keys
    * were hot, the join wouldn't be skewed — it would be big), so
    * [[saltedJoinPerKey]] broadcasts it. Dim amplification drops from
    * nKeys × factor to Σ_hot (factor − 1) extra rows.
    *
    * Cost: the same single map-side-combined histogram pass as
    * [[adaptiveSaltFactor]] (the O(distinct keys) aggregate is persisted
    * across the total + filter reads, never the fact). */
  def perKeySaltFactors(fact: DataFrame, key: String,
                        maxFactor: Int = 64): DataFrame = {
    val par = fact.sparkSession.sparkContext.defaultParallelism
    val counts = graft.operators.ScaleOps.trackedPersist(
      fact.groupBy(col(key)).agg(count(lit(1)).as("__c")))
    val totalRow = counts.agg(sum(col("__c"))).head()
    if (totalRow.isNullAt(0) || totalRow.getLong(0) == 0L)
      counts.filter(lit(false)).select(col(key), lit(1L).as("__factor"))
    else {
      val fair = math.max(1.0, totalRow.getLong(0).toDouble / par)
      counts.filter(col("__c") > fair)
        .select(col(key),
          least(lit(maxFactor.toLong),
            ceil(col("__c") / lit(fair)).cast("long")).as("__factor"))
    }
  }

  /** Inner equi-join salted PER KEY: the fact side salts each row modulo
    * ITS key's factor (1 for cold keys — their salt is constantly 0), the
    * dim side explodes each row ITS key's factor times (cold keys: one
    * copy). The hot-key table is PROVABLY tiny — a key above the uniform
    * per-task share holds > total/parallelism rows, so at most
    * parallelism − 1 keys can qualify at ANY corpus size — which makes the
    * driver-side collect safe and lets both sides resolve factors through
    * a LITERAL map lookup (codegen'd `element_at`, no join): the returned
    * plan is shape-identical to the fixed-factor [[saltedJoin]] (narrow
    * maps on both inputs, one equi-join the planner can still broadcast
    * from the dim's own statistics — a factor-resolving join here would
    * wreck those stats and force a needless pre-join shuffle, measured
    * r16). The salt value never reaches the result — result-set equality
    * with the plain join and invariance across maxFactor are asserted in
    * LayoutSkewSpec. */
  def saltedJoinPerKey(fact: DataFrame, dim: DataFrame, key: String,
                       maxFactor: Int = 64): DataFrame = {
    val hot = perKeySaltFactors(fact, key, maxFactor).collect()
    val factor: Column =
      if (hot.isEmpty) lit(1L)
      else coalesce(element_at(
        map(hot.toSeq.flatMap(r => Seq(lit(r.get(0)), lit(r.getLong(1)))): _*),
        col(key)), lit(1L))
    val salted = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), factor).cast("int"))
    val explodedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), (factor - lit(1L)).cast("int"))))
    salted.join(explodedDim, Seq(key, "__salt")).drop("__salt")
  }
}
