package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Temporal joins the reference lacks but a time-series lakehouse needs
  * (SURVEY §2.3 notes hash/as-of/interval joins as absent; these are the
  * engine's extensions, Spark-first):
  *
  *  - [[asofJoin]]: for every left row, the LATEST right row with
  *    `right.ts <= left.ts` per key — implemented as a union + one
  *    window pass, NOT a range join: one shuffle/sort by (key, ts), no
  *    per-key candidate explosion, linear in rows at any scale.
  *  - [[intervalJoin]]: all (left, right) pairs on the same key with
  *    `right.ts ∈ [left.ts, left.ts + window]` — an equi-join on the key
  *    with the range as a join conjunct; the key join bounds the
  *    candidate space, AQE splits skewed keys.
  */
object TemporalJoins {

  /** Backward as-of join (left join semantics: unmatched left rows keep
    * nulls). Output = left columns ++ the requested right columns (each
    * renamed via `rightPrefix`) ++ `<rightPrefix>ts`.
    *
    * Union-of-sides trick: tag rows (right=0, left=1), sort each key
    * partition by (ts, tag, tieBreak), and carry the last non-null right
    * payload forward with `last(ignoreNulls)` over rows-unbounded-
    * preceding — a right row at the same ts sorts BEFORE the left row,
    * so the match is inclusive (`right.ts <= left.ts`). One exchange,
    * one sort; at 100 TB this is the only as-of shape that avoids
    * building the per-left candidate set.
    *
    * @param tolerance max allowed left.ts − right.ts; older matches null
    * @param tieBreak  deterministic order among right rows sharing
    *                  (key, ts), in the expressions' native types — the
    *                  LAST one in ascending order wins
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightCols: Seq[String],
      rightPrefix: String = "asof_",
      tolerance: Option[String] = None,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val ts = "__graft_ts"
    val tag = "__graft_tag"
    val payload = "__graft_payload"
    val leftStruct = "__graft_left"
    val tbNames = tieBreak.indices.map(i => s"__graft_tb$i")
    val payloadType = org.apache.spark.sql.types.StructType(
      right.select((rightTs +: rightCols).map(col): _*).schema.fields)
    // tiebreak columns keep their NATIVE types (resolved against the
    // right frame) so numeric/timestamp tiebreaks order numerically, not
    // lexicographically
    val tbTypes = tieBreak.map(tb => right.select(tb).schema.head.dataType)
    val sideCols = keys ++ (ts +: tag +: payload +: leftStruct +: tbNames)

    val lSide = tbNames.zip(tbTypes).foldLeft(
      left
        .withColumn(ts, col(leftTs))
        .withColumn(tag, lit(1))
        .withColumn(payload, lit(null).cast(payloadType))
        .withColumn(leftStruct, struct(left.columns.toSeq.map(col): _*))) {
      case (df, (n, dt)) => df.withColumn(n, lit(null).cast(dt))
    }.select(sideCols.map(col): _*)

    // a NULL right timestamp can never satisfy right.ts <= left.ts — and
    // it would otherwise sort to the head of the partition and leak into
    // every left row's carried-forward match
    val rSide = tieBreak.zip(tbNames).foldLeft(
      right
        .where(col(rightTs).isNotNull)
        .withColumn(ts, col(rightTs))
        .withColumn(tag, lit(0))
        .withColumn(payload, struct((rightTs +: rightCols).map(col): _*))
        .withColumn(leftStruct, lit(null).cast(
          org.apache.spark.sql.types.StructType(left.schema.fields)))) {
      case (df, (tb, n)) => df.withColumn(n, tb)
    }.select(sideCols.map(col): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(ts).asc +: col(tag).asc +: tbNames.map(col(_).asc_nulls_first)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = lSide.unionByName(rSide)
      .withColumn("__graft_match", last(col(payload), ignoreNulls = true).over(w))
      .where(col(tag) === 1)

    val withinTol = tolerance.fold(matched) { tol =>
      matched.withColumn("__graft_match",
        when(col(s"__graft_match.$rightTs") >=
          col(ts) - expr(s"INTERVAL $tol"), col("__graft_match")))
    }

    withinTol.select(
      left.columns.toSeq.map(n => col(s"$leftStruct.`$n`").as(n)) ++
        (rightTs +: rightCols).map(n =>
          col(s"__graft_match.`$n`").as(s"$rightPrefix$n")): _*)
  }

  /** Interval join: same-key pairs with
    * `right.ts ∈ [left.ts, left.ts + window]`. The equi-key bounds the
    * join; the range rides as a conjunct (evaluated inside the join's
    * codegen). Output = left columns ++ right columns (right renamed via
    * `rightPrefix` on collision).
    *
    * `keys` and `rightTs` name columns of the UNRENAMED `right` frame
    * (the prefix is an output-disambiguation detail, not part of the
    * input contract); a right frame that already contains a
    * `rightPrefix`-ed collision name is rejected — the rename would
    * silently produce duplicate output columns. */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, window: String,
      rightPrefix: String = "r_"): DataFrame = {
    require(right.columns.contains(rightTs),
      s"rightTs must name a column of the right frame (its original, " +
        s"pre-rename name); '$rightTs' not in [${right.columns.mkString(", ")}]")
    val overlap = left.columns.toSet intersect right.columns.toSet
    overlap.foreach { n =>
      require(!right.columns.contains(s"$rightPrefix$n"),
        s"right frame already has a column '$rightPrefix$n' that the " +
          s"collision rename of '$n' would duplicate — drop or rename it " +
          s"first, or pick another rightPrefix")
    }
    val r = overlap.foldLeft(right)((df, n) =>
      df.withColumnRenamed(n, s"$rightPrefix$n"))
    // join keys exist on both sides by definition, so they are always in
    // `overlap` and always carry the prefix on the right
    val rKeys = keys.map(k => s"$rightPrefix$k")
    val rTs = if (overlap(rightTs)) s"$rightPrefix$rightTs" else rightTs
    val cond = keys.zip(rKeys).map { case (lk, rk) => col(lk) === col(rk) }
      .reduce(_ && _) &&
      col(rTs) >= col(leftTs) &&
      col(rTs) <= col(leftTs) + expr(s"INTERVAL $window")
    left.join(r, cond).drop(rKeys: _*)
  }
}
