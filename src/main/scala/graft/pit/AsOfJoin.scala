package graft.pit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Point-in-time (as-of) join: for each entity row, attach the latest feature
  * row with `featureTs <= entityTs` and (if a TTL is set)
  * `featureTs >= entityTs - ttl`, ties on featureTs broken by the greatest
  * `createdTs`. Left-outer semantics: entity rows with no in-window feature
  * row keep null features.
  *
  * Semantics re-create the reference's point-in-time retrieval
  * (Cimpress-MCP/feast: sdk/python/feast/infra/offline_stores/file.py:183-190
  * pandas merge_asof path; bigquery.py:602-657 SQL path; tie-break documented
  * at docs/user-guide/getting-training-features.md:63-67). Both TTL bounds are
  * inclusive (bigquery.py:610-614; merge_asof tolerance).
  *
  * Two physical strategies, equal results:
  *
  *  - [[AsOfJoin.windowed]] — union-tag both sides, one hash shuffle on the
  *    entity key, in-partition sort by (ts, tag, createdTs), then
  *    `last(featureStruct, ignoreNulls = true)` over an unbounded-preceding
  *    row frame. No row explosion, one shuffle: the scalable default for a
  *    1000-executor / 10^12-row run. Feature rows sort *before* entity rows at
  *    equal ts (tag 0 < 1) so the `<=` bound is inclusive.
  *
  *  - [[AsOfJoin.rangeJoin]] — the reference's SQL shape: ttl-bounded range
  *    theta-join + `max(struct(ts, createdTs, features))` per entity row
  *    (struct-max encodes the lexical (ts, created) tie-break in ONE hash
  *    aggregate, replacing the reference's 3-CTE dedup/latest/cleaned dance),
  *    then a left join back onto the entity frame. Explodes hot keys; kept as
  *    a cross-check oracle and for tiny feature sides (broadcastable).
  */
final case class AsOfSpec(
    keys: Seq[String],
    leftTs: String,
    rightTs: String,
    createdTs: Option[String] = None,
    ttlSeconds: Option[Long] = None,
    features: Seq[String] = Nil)

object AsOfJoin {

  private val FEAT = "__graft_feat"
  private val TAG = "__graft_tag"
  private val TS = "__graft_ts"
  private val SALT = "__graft_salt"
  private val SALTSRC = "__graft_saltsrc"

  /** Single-shuffle sort-merge as-of join (strategy B — the default): the
    * one-side call of the N-side core below.
    *
    * Plan shape: union(entity+tag1, feature+tag0) → window
    * partitionBy(keys[, salt]) orderBy(ts, tag, created) → last(feat,
    * ignoreNulls) → filter(tag=1). Catalyst plans the window as one Exchange
    * (hashpartitioning on the keys) + in-partition sort — the join never
    * materializes an (entity × feature-history) blow-up, so it scales with
    * input size, not match-candidate count.
    *
    * @param saltBuckets when > 1, hot-key mitigation: entity rows are spread
    *   uniformly across `saltBuckets` sub-partitions of their key and feature
    *   rows are replicated to every bucket, so one scorching entity no longer
    *   pins a single task. Correctness is preserved because every entity row
    *   still sees the full feature history of its key.
    * @param hotKeys when non-empty (with saltBuckets > 1), only these key
    *   tuples are salted (single-key column values); everything else takes the
    *   unsalted path. Avoids replicating the whole feature side.
    */
  def windowed(
      entity: DataFrame,
      feature: DataFrame,
      spec: AsOfSpec,
      saltBuckets: Int = 1,
      hotKeys: Seq[Any] = Nil): DataFrame =
    windowed(entity, Seq(feature -> spec), saltBuckets, hotKeys)

  /** N feature sides, one as-of window: every side shares `keys` and
    * `leftTs` (its own `rightTs`, `createdTs`, TTL and features). Entity rows
    * and every side's rows are unioned once, hash-exchanged once on the keys
    * (plus salt) and sorted once on `(ts, tag, created_0, feat_0, …,
    * created_{N-1}, feat_{N-1})`; one Window computes `last(feat_i,
    * ignoreNulls)` for each side. Output: the entity columns, then each
    * side's features in side order (feature names must be distinct across
    * sides).
    *
    * Why every pick equals the single-side pick, ties included: a side-i row
    * carries nulls in every other side's created/feat columns, so among
    * side-i rows at one ts the sort keys before `created_i` are all null
    * (equal) and those after `feat_i` too — the order inside a side is
    * exactly the one-side `(ts, tag, created, feat)`. Rows of other sides
    * interleave freely but never change `last(feat_i, ignoreNulls)`, and
    * entity rows still follow every feature row of equal ts (tag 0 < 1).
    * Each side keeps its own TTL check, created-column type and orderable
    * tie-break.
    *
    * Cost trade: one exchange and one sort of (entity + Σ side) rows, with N
    * `last` updates per row, against N exchanges and N sorts of the
    * accumulating entity payload plus that side's rows. Measured with
    * perfbench's session (local[4], 8 shuffle partitions, C1 JIT) on
    * `retrieval_wide`'s inputs (10k entity rows, 20k feature rows), a
    * retrieval of 6 narrow views with different TTLs plus one wide view on
    * one key took 3.89–4.14 s as seven one-side windows and 2.09–2.45 s as
    * one seven-side window.
    */
  def windowed(
      entity: DataFrame,
      sides: Seq[(DataFrame, AsOfSpec)],
      saltBuckets: Int,
      hotKeys: Seq[Any]): DataFrame = {
    require(sides.nonEmpty, "as-of join needs at least one feature side")
    val spec = sides.head._2
    val keys = spec.keys
    require(keys.nonEmpty, "as-of join needs at least one key column")
    require(sides.forall { case (_, s) => s.keys == keys && s.leftTs == spec.leftTs },
      "as-of sides must share keys and leftTs")
    val featCols = sides.flatMap(_._2.features)
    require(featCols.distinct.size == featCols.size,
      s"as-of sides repeat a feature name: ${featCols.mkString(", ")}")
    val entityCols = entity.columns.toSeq
    // side 0 keeps the bare names, which plan fences and perfbench match
    def sfx(i: Int) = if (i == 0) "" else s"_$i"
    def created(i: Int) = s"__graft_created${sfx(i)}"
    def feat(i: Int) = s"$FEAT${sfx(i)}"
    def lastOf(i: Int) = s"__graft_last${sfx(i)}"
    def pick(i: Int) = s"__graft_pick${sfx(i)}"

    // Side i's own created column (null timestamp when absent) and packed
    // feature struct; their types type the null columns every other side
    // and the entity rows carry. Null join keys never match (SQL semantics,
    // and rangeJoin's === agrees) — but Window.partitionBy groups nulls, so
    // null-keyed feature rows must be dropped or a null-keyed entity row
    // would pick them up.
    def own(i: Int): Seq[Column] = {
      val s = sides(i)._2
      Seq(s.createdTs.map(col).getOrElse(lit(null).cast("timestamp")).as(created(i)),
        struct((col(s.rightTs).as("__ts") +: s.features.map(col)): _*).as(feat(i)))
    }
    val rows = sides.map(_._1.where(keys.map(col(_).isNotNull).reduce(_ && _)))
    val types = sides.indices.map(i => rows(i).select(own(i): _*).schema.fields.map(_.dataType))
    def sideCols(side: Int): Seq[Column] = sides.indices.flatMap { i =>
      if (i == side) own(i)
      else Seq(lit(null).cast(types(i)(0)).as(created(i)), lit(null).cast(types(i)(1)).as(feat(i)))
    }

    // Right sides: keys + ts + created/feat columns + tag 0.
    val rights = sides.indices.map { i =>
      rows(i).select(
        keys.map(col) ++ Seq(col(sides(i)._2.rightTs).as(TS)) ++ sideCols(i) :+ lit(0).as(TAG): _*)
    }

    // Left side: keys + ts + null created/feat columns + original payload
    // packed so the union schema stays narrow. Payload is built in the SAME
    // projection — entity columns no longer exist afterwards. When salting,
    // a per-row salt source is hashed from ts + every hashable payload
    // column: a hot key probed many times AT THE SAME TIMESTAMP (the common
    // snapshot-entity-frame shape) still spreads across buckets — round 2's
    // xxhash64(ts, tag) salt collapsed such rows into one bucket. Only
    // byte-identical duplicate rows share a bucket (indistinguishable by
    // any deterministic function). Map-typed payload columns are excluded
    // from the hash (Spark rejects hashing maps); ts+remaining columns
    // still disambiguate.
    val payload = struct(entityCols.map(col): _*)
    val saltSrc: Seq[Column] =
      if (saltBuckets > 1) Seq(saltSource(entity, spec).as(SALTSRC)) else Nil
    val leftBase = entity.select(
      keys.map(col) ++ Seq(col(spec.leftTs).as(TS)) ++ sideCols(-1) ++ Seq(
        lit(1).as(TAG),
        payload.as("__graft_payload")) ++ saltSrc: _*)
    val rightWithPayload0 = rights.reduce(_ union _)
      .withColumn("__graft_payload", lit(null).cast(leftBase.schema("__graft_payload").dataType))
    val rightWithPayload =
      if (saltBuckets > 1) rightWithPayload0.withColumn(SALTSRC, lit(0L))
      else rightWithPayload0

    val (l, r, partCols) =
      if (saltBuckets > 1) saltSides(leftBase, rightWithPayload, keys, saltBuckets, hotKeys)
      else (leftBase, rightWithPayload, keys)

    val unioned = l.unionByName(r)

    // Order: ts asc, tag asc (features first at equal ts => inclusive <=),
    // then per side created asc (so `last` picks max created among equal
    // ts) and the packed feature struct as that side's FINAL tie-breaker
    // whenever its type is orderable: without it, rows fully tied on (ts,
    // created) would leave the pick to shuffle arrival order, while
    // rangeJoin's max(struct(...)) resolves the same tie deterministically —
    // the two strategies must agree bit-for-bit. (Map-typed features are not
    // orderable; the facade routes those through the wide path where the
    // row id disambiguates.)
    val sideOrder: Seq[Column] = sides.indices.flatMap { i =>
      col(created(i)).asc +: (if (containsMap(types(i)(1))) Nil else Seq(col(feat(i)).asc_nulls_first))
    }
    val w = Window
      .partitionBy(partCols.map(col): _*)
      .orderBy((Seq(col(TS).asc, col(TAG).asc) ++ sideOrder): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val picked = unioned
      .select(col("*") +: sides.indices.map(i =>
        last(col(feat(i)), ignoreNulls = true).over(w).as(lastOf(i))): _*)
      .where(col(TAG) === 1)

    // TTL: null a side's pick when its feature ts is older than
    // entityTs - ttl.
    val valid = picked.select(col("*") +: sides.indices.map { i =>
      val ttlOk: Column = sides(i)._2.ttlSeconds match {
        case Some(ttl) =>
          col(s"${lastOf(i)}.__ts") >= (col(TS) - expr(s"INTERVAL $ttl SECONDS"))
        case None => lit(true)
      }
      when(col(lastOf(i)).isNotNull && ttlOk, col(lastOf(i))).as(pick(i))
    }: _*)

    valid.select(
      entityCols.map(c => col(s"__graft_payload.`$c`").as(c)) ++
        sides.indices.flatMap(i =>
          sides(i)._2.features.map(f => col(s"${pick(i)}.`$f`").as(f))): _*)
  }

  /** Whether a type holds a map at any depth. Such values are neither
    * orderable nor hashable in Spark (map equality is order-insensitive), so
    * this one predicate decides the window's tie-break column and the salt
    * source's inputs.
    */
  private[graft] def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(et, _) => containsMap(et)
    case st: StructType => st.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Per-entity-row salt source: hash of ts + every hashable entity column.
    * Package-visible so specs can assert bucket occupancy directly.
    */
  private[graft] def saltSource(entity: DataFrame, spec: AsOfSpec): Column =
    xxhash64((col(spec.leftTs) +:
      entity.schema.fields.toSeq.filterNot(f => containsMap(f.dataType))
        .map(f => col(f.name))): _*)

  /** Salt the union sides: entity rows get a per-row bucket from the
    * row-unique salt source (ts + payload hash, computed in `windowed`),
    * feature rows of hot keys are replicated to all buckets (posexplode of
    * a constant array).
    */
  private def saltSides(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      buckets: Int,
      hotKeys: Seq[Any]): (DataFrame, DataFrame, Seq[String]) = {
    // an element that is itself a Seq matches the full composite key tuple
    // (null-safe per component); a scalar matches keys.head only
    val isHot: Column =
      if (hotKeys.isEmpty) lit(true)
      else hotKeys.map {
        case tuple: Seq[_] =>
          keys.zip(tuple).map { case (k, v) => col(k) <=> lit(v) }
            .reduce(_ && _)
        case scalar => col(keys.head) <=> lit(scalar)
      }.reduce(_ || _)
    val saltedLeft = left.withColumn(
      SALT,
      when(isHot, pmod(col(SALTSRC), lit(buckets)).cast("int"))
        .otherwise(lit(0)))
      .drop(SALTSRC)
    val saltedRight = right
      .withColumn(
        "__graft_salts",
        when(isHot, sequence(lit(0), lit(buckets - 1))).otherwise(array(lit(0))))
      .withColumn(SALT, explode(col("__graft_salts")))
      .drop("__graft_salts")
      .drop(SALTSRC)
    (saltedLeft, saltedRight, keys :+ SALT)
  }

  /** Late-materialized windowed as-of join: the shuffle/sort runs on a
    * NARROW projection (keys, ts, created, rowId); wide feature columns are
    * fetched afterwards by [[fetch]] against the original feature frame.
    *
    * Shuffle and sort volume stay O(narrow bytes) regardless of payload
    * width — at 100 TB with ~KB token arrays per row this is the difference
    * between moving ~50 B/row twice and moving the full payload through
    * every exchange and sort (measured locally: the wide-through-the-window
    * plan is I/O-bound and stops scaling with cores; this one scales). The
    * matched frame feeds only the fetch join, so its exchange, sort and
    * window are evaluated once; the payload is not pruned to the matched
    * ids first — a prune built from `matched` would evaluate the window a
    * second time.
    *
    * `rowId` must uniquely identify feature rows (a stable table key, a
    * sequence id, or a hash of the row's scan position as the
    * [[graft.FeatureStore]] facade uses — never a nondeterministically
    * generated id). Rows fully tied on (ts, created) resolve to the larger
    * row id.
    */
  def windowedLate(
      entity: DataFrame,
      feature: DataFrame,
      spec: AsOfSpec,
      rowId: String,
      saltBuckets: Int = 1,
      hotKeys: Seq[Any] = Nil): DataFrame = {
    val narrowFeature = feature.select(
      (spec.keys ++ Seq(spec.rightTs) ++ spec.createdTs.toSeq :+ rowId)
        .distinct.map(col): _*)
    val matched = windowed(entity, narrowFeature, spec.copy(features = Seq(rowId)),
      saltBuckets, hotKeys)
    fetch(matched, feature.select((rowId +: spec.features).distinct.map(col): _*), rowId)
  }

  /** The late fetch: left-join the payload onto `matched` by `rowId`.
    * Shuffle-HASH, not sort-merge: the wide payload crosses exactly one
    * exchange (to its rowId partition) and is never sorted — a sort-merge
    * fetch would re-sort every payload byte just to equi-join on an 8-byte
    * key.
    */
  private[graft] def fetch(matched: DataFrame, payload: DataFrame, rowId: String): DataFrame =
    matched.join(payload.hint("shuffle_hash"), Seq(rowId), "left")

  /** Range-join strategy (reference SQL shape, bigquery.py:551-694 compressed
    * to one aggregate). Entity frame must carry a unique row id in `rowId`
    * (use a natural key; never a nondeterministic id in verified output).
    */
  def rangeJoin(
      entity: DataFrame,
      feature: DataFrame,
      spec: AsOfSpec,
      rowId: String): DataFrame = {
    val e = entity.alias("e")
    val f0 = feature.select(
      (spec.keys.map(col) ++
        Seq(col(spec.rightTs).as(TS)) ++
        spec.createdTs.map(c => col(c).as("__graft_created")).toSeq ++
        spec.features.map(col)): _*).alias("f")

    val keyCond = spec.keys
      .map(k => col(s"e.`$k`") === col(s"f.`$k`"))
      .reduce(_ && _)
    val lowerBound: Column = spec.ttlSeconds match {
      case Some(ttl) =>
        col(s"f.$TS") >= (col(s"e.`${spec.leftTs}`") - expr(s"INTERVAL $ttl SECONDS"))
      case None => lit(true)
    }
    val cond = keyCond && (col(s"f.$TS") <= col(s"e.`${spec.leftTs}`")) && lowerBound

    val joined = e.join(f0, cond, "inner")
    // max(struct(ts, created, features)) = latest ts, tie-break max created.
    val pickStruct = struct(
      (col(s"f.$TS").as("__ts") +:
        spec.createdTs.map(_ => col("f.__graft_created").as("__created")).toSeq) ++
        spec.features.map(c => col(s"f.`$c`").as(c)): _*)
    val best = joined
      .groupBy(col(s"e.`$rowId`").as(rowId))
      .agg(max(pickStruct).as("__graft_pick"))

    entity
      .join(best, Seq(rowId), "left")
      .select(
        entity.columns.map(col).toSeq ++
          spec.features.map(fc => col(s"__graft_pick.`$fc`").as(fc)): _*)
  }
}
