package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-pair mining over (basket, item) rows — the association-mining
  * primitive (support + lift per co-occurring item pair).
  *
  * Scale shape: pair candidates come from an equi-join on the BASKET key,
  * so per-basket fan-out is C(k, 2) with k the basket size — bounded by
  * real basket cardinalities, never an all-pairs over the item catalog
  * (unsupported pairs die in the join's output aggregate, not in an |I|²
  * enumeration). The one adversarial regime is a hot basket (a crawler
  * "user" touching 10⁵ items → 5·10⁹ pairs from one key): `maxBasketItems`
  * drops baskets above the cap via a size semi-join BEFORE the pair join —
  * the same parameter-set skew guard as the edit-distance blocker's
  * `maxBlock` and the shingle `maxDf` cap. 0 = off (exact; the
  * correctness gate runs uncapped).
  *
  * Numerics: support counts are exact BIGINT; lift =
  * n_baskets·c(a,b)/(c(a)·c(b)) is ONE IEEE division of exact integers
  * (the t41 oracle-safe rule), emitted beside its raw inputs. n_baskets is
  * a 1-row bounded scalar fold broadcast back (the q2 report class).
  */
object Baskets {

  /** @param items          (basketCol, itemCol) rows; duplicates collapse
    * @param minSupport     keep pairs co-occurring in ≥ this many baskets
    * @param maxBasketItems drop baskets with more distinct items than
    *                       this before pairing; 0 = no cap
    * @return (item_a, item_b, pair_cnt, cnt_a, cnt_b, n_baskets, lift)
    *         with item_a < item_b
    */
  def frequentPairs(
      items: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketItems: Long = 0L): DataFrame = {
    val base = items.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
    // 4 consumers below (basket fold, item counts, both pair-join sides):
    // registry-persisted so the distinct computes once (the BoundedCaches
    // multi-reference rule), not once per consumer.
    val kept = graft.engine.BoundedCaches.persist(
      if (maxBasketItems <= 0L) base
      else base.join(
        base.groupBy(col("__b")).agg(count(lit(1)).as("__k"))
          .filter(col("__k") <= maxBasketItems).select(col("__b")),
        Seq("__b"), "left_semi"))
    val n = kept.agg(count_distinct(col("__b")).as("n_baskets"))
    val counts = kept.groupBy(col("__i")).agg(count(lit(1)).as("cnt"))
    kept.select(col("__b"), col("__i").as("item_a"))
      .join(kept.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minSupport)
      .join(counts.select(col("__i").as("item_a"), col("cnt").as("cnt_a")), "item_a")
      .join(counts.select(col("__i").as("item_b"), col("cnt").as("cnt_b")), "item_b")
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("pair_cnt"),
        col("cnt_a"), col("cnt_b"), col("n_baskets"),
        // each factor cast to double BEFORE multiplying: lift is an IEEE
        // division anyway, and a BIGINT product (n_baskets ~1e10 × a hot
        // pair) would throw under ANSI overflow instead of dividing
        round(col("n_baskets").cast("double") * col("pair_cnt").cast("double") /
          (col("cnt_a").cast("double") * col("cnt_b").cast("double")), 6).as("lift"))
  }
}
