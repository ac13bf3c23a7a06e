package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise co-occurrence mining (frequent itemsets, k = 2): which items
  * appear together in the same basket, with support counts — the
  * market-basket primitive behind "files changed together" /
  * "parts ordered together" analyses.
  *
  * The pair join is an equi-join of the (basket, item) table with itself
  * on the basket key with `item_a < item_b` — each unordered pair per
  * basket counted once, duplicate (basket, item) rows collapsed first so
  * quantity lines don't inflate support. Scale: the join keys on basket
  * id (cardinality grows with data); a basket of n items emits n(n−1)/2
  * pairs, so `maxBasketSize` drops pathological baskets (one 10⁶-item
  * basket would emit 5·10¹¹ pairs — at 100 TB that cap is the difference
  * between a plan and an outage; dropped baskets are counted in the
  * companion [[basketStats]]).
  */
object CoOccurrence {

  /** One sorted distinct-item array per basket, restricted to baskets of at
    * most `maxBasketSize` distinct items — the shared prep of [[pairs]] and
    * [[rules]]. Pair enumeration stays in-row generation over the sorted
    * array (no basket-keyed self-join); the size gate runs BEFORE the
    * array ever forms (see the pre-drop note below), so no per-basket
    * buffer can exceed maxBasketSize items anywhere in the plan.
    */
  private def sizedItems(
      df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int): DataFrame = {
    val base = df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .filter(col("item").isNotNull && col("basket").isNotNull)
    // Size-BOUNDED set aggregation, not collect_set + a size filter after
    // the fact: collect_set keeps one unbounded in-memory buffer per
    // basket, so one pathological hot basket (the exact thing
    // maxBasketSize exists to drop) could OOM an executor at corpus scale
    // before the filter ever saw the array. BoundedSetAgg caps every
    // buffer at maxBasketSize items (overflow flips a flag and empties the
    // buffer), keeps the single map-side-combined aggregation of the old
    // shape, and kept baskets come out bit-identical to
    // sort_array(collect_set(item)).
    import org.apache.spark.sql.types.{LongType, StringType}
    val bounded = base.schema("item").dataType match {
      case LongType =>
        graft.functions.BoundedSetAgg.boundedLongSet(maxBasketSize)(col("item"))
      case StringType =>
        graft.functions.BoundedSetAgg.boundedStringSet(maxBasketSize)(col("item"))
      case other => throw new IllegalArgumentException(
        s"co-occurrence item column must be bigint or string, got $other")
    }
    base.groupBy("basket").agg(bounded.as("__s"))
      .filter(!col("__s.over"))
      .select(col("basket"), col("__s.items").as("items"))
  }

  /** All in-basket unordered pairs (item_a < item_b — the arrays are sorted
    * ascending, so "strictly after item_a in the array" IS the old
    * `item_a < item_b` predicate), one row per (basket, pair).
    */
  private def basketPairs(sized: DataFrame): DataFrame =
    sized
      .select(col("items"), posexplode(col("items")).as(Seq("i", "item_a")))
      .select(col("item_a"),
        explode(slice(col("items"), col("i") + lit(2),
          greatest(size(col("items")) - col("i") - 1, lit(0)))).as("item_b"))

  /** (item_a, item_b, support) for pairs with support ≥ `minSupport`,
    * over baskets of at most `maxBasketSize` distinct items.
    */
  def pairs(
      df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, maxBasketSize: Int = 1000): DataFrame =
    basketPairs(sizedItems(df, basketCol, itemCol, maxBasketSize))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)

  /** Directed association rules (E195): both orientations of every
    * [[pairs]] itemset, scored with exact fixed-point confidence and lift
    * — the report Apriori exists to produce:
    *   confidence(a→b) = ⌊support·2²⁰ / n_ant⌋,
    *   lift(a→b) = ⌊support·N·2²⁰ / (n_ant·n_cons)⌋
    * over basket counts (N = number of kept baskets). DECIMAL(38)
    * products — support·N·2²⁰ overflows a long at corpus scale. Top-k by
    * lift, ties by item ids.
    *
    * Scale: rides [[pairs]]' basket-keyed join; item supports and the
    * basket total are aggregation outputs joined back on the item key
    * (vocabulary-scale); the final top-k is a global TakeOrdered.
    */
  def rules(
      df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, maxBasketSize: Int = 1000,
      topK: Int = 50): DataFrame = {
    val dec = "decimal(38,0)"
    // ONE sizedItems derivation serves the pair join, the item supports,
    // and the basket total — re-calling pairs() would repeat the
    // corpus-scale distinct + basket-size window a second time
    // sized is one row per kept basket, so the basket total is a plain
    // count and item supports explode the (deduplicated) arrays — the old
    // countDistinct and per-row scans are gone with the self-join
    val sized = graft.ext.Spread.of(df).pin(
      sizedItems(df, basketCol, itemCol, maxBasketSize))
    val itemCounts = sized.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val nB = sized.agg(count(lit(1)).cast("long").as("n_baskets"))
    val p = basketPairs(sized)
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val directed = p.select(
        col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("support"))
      .unionByName(p.select(
        col("item_b").as("antecedent"), col("item_a").as("consequent"),
        col("support")))
    directed
      .join(itemCounts.select(col("item").as("antecedent"),
        col("n_item").as("n_ant")), Seq("antecedent"))
      .join(itemCounts.select(col("item").as("consequent"),
        col("n_item").as("n_cons")), Seq("consequent"))
      .crossJoin(broadcast(nB))
      .select(
        col("antecedent"), col("consequent"), col("support"),
        col("n_ant"), col("n_cons"), col("n_baskets"),
        graft.ext.ExactMath.floorDiv(col("support") * lit(1048576L), col("n_ant"))
          .as("confidence_fp"),
        graft.ext.ExactMath.floorDiv(
          col("support").cast(dec) * col("n_baskets").cast(dec) *
            lit(1048576L).cast(dec),
          col("n_ant").cast(dec) * col("n_cons").cast(dec)).as("lift_fp"))
      .orderBy(col("lift_fp").desc, col("antecedent").asc, col("consequent").asc)
      .limit(topK)
  }

  /** Per-corpus basket-size profile: baskets, max/mean size, and how many
    * the `maxBasketSize` cap would drop — the preflight for [[pairs]].
    */
  def basketStats(
      df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int = 1000): DataFrame =
    df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .filter(col("item").isNotNull && col("basket").isNotNull)
      .distinct()
      .groupBy("basket").agg(count(lit(1)).as("bsize"))
      .agg(
        count(lit(1)).as("n_baskets"),
        max(col("bsize")).as("max_basket"),
        sum(col("bsize")).cast("long").as("n_items_total"),
        sum(when(col("bsize") > maxBasketSize, 1L).otherwise(0L))
          .cast("long").as("n_dropped"))
}
