package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate generation shared by the near-duplicate operators of [[Dedup]]
  * and [[Similarity]]: candidate pairs come from a self-join on a NARROW key
  * (a shingle, an LSH band signature), never from a cross join, and each
  * unordered pair is kept once as `(id1, id2)` with `id1 < id2`. Callers
  * verify every candidate exactly afterwards, so the key only bounds the
  * pair space; it never decides a result.
  */
private[ops] object Candidates {

  /** Distinct pairs of `df` rows that agree on every column of `keys`.
    * `extra` further filters the joined rows, which are aliased `x` and `y`
    * (the prefix join's length filter). Each `carry` (column, prefix) rides
    * the join and comes out as `<prefix>1` / `<prefix>2`.
    */
  def sharingKey(
      df: DataFrame,
      idCol: String,
      keys: Seq[String],
      extra: Column = lit(true),
      carry: Seq[(String, String)] = Nil): DataFrame =
    df.as("x").join(df.as("y"), keys)
      .where(col(s"x.$idCol") < col(s"y.$idCol") && extra)
      .select(Seq(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2")) ++
        carry.flatMap { case (c, p) => Seq(col(s"x.$c").as(s"${p}1"), col(s"y.$c").as(s"${p}2")) }: _*)
      .distinct()

  /** Banded-LSH candidates: each row explodes to one `struct(band, key)`
    * per entry of `bandKeys` (band = its index), and rows sharing any
    * (band, key) pair are candidates ([[sharingKey]] on both). The explode
    * `alias`, the struct `fields` and the output columns `cols` are
    * the caller's own names, so its plan keeps its attribute names. `carry`
    * columns ride the explode and the join (see [[sharingKey]]).
    */
  def banded(
      df: DataFrame,
      idCol: String,
      bandKeys: Seq[Column],
      alias: String,
      fields: (String, String),
      cols: (String, String),
      carry: Seq[(String, String)] = Nil): DataFrame = {
    val kept = col(idCol) +: carry.map { case (c, _) => col(c) }
    val exploded = df.select(kept :+ explode(array(bandKeys.zipWithIndex.map { case (k, b) =>
      struct(lit(b).as(fields._1), k.as(fields._2))
    }: _*)).as(alias): _*)
      .select(kept ++ Seq(col(s"$alias.${fields._1}").as(cols._1),
        col(s"$alias.${fields._2}").as(cols._2)): _*)
    sharingKey(exploded, idCol, Seq(cols._1, cols._2), carry = carry)
  }
}
