package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Delta maintenance for the index-artifact family. The invariant:
  *
  *   - every index artifact (BM25 postings, IVF assignments, PQ codes)
  *     is a [[VersionedTable]] — a build is a `publishFull`, and the
  *     trained model (codebook) and corpus constants ride as extras of
  *     the SAME snapshot as the derived rows they produced;
  *   - a delta is a FROZEN model plus a copy-on-write rewrite of the
  *     affected partitions, published as ONE snapshot through
  *     [[VersionedTable.retryingPublish]]. Trained models never move
  *     across a delta (the FAISS/Lucene model/derived-state split —
  *     retraining is a model refresh, a different operation); only the
  *     per-document rows do.
  *
  * The affected partitions per family:
  *
  *   - BM25: a doc's terms pin the buckets; df is denormalized, so
  *     every term whose doc-set changed is affected — but an affected
  *     term's bucket is affected by construction, so the rewrite set
  *     is exactly the union of the delta docs' term buckets.
  *   - IVF: a vector's frozen-codebook cell pins the partition;
  *     affected cells = cells of dropped vectors ∪ cells the upserts
  *     assign to.
  *   - PQ: codes are bucketed by `xxhash64(vec_id)`, so the affected
  *     buckets are computable from the delta's IDS alone — no read of
  *     the old artifact needed to route the rewrite.
  *
  * A delta comes from [[contentDiff]] (two snapshots) or
  * [[deltaFromChanges]] (a CDC feed). Every family reads its
  * `(upserts, removedIds)` pair through [[keyedDelta]], so a key
  * delivered twice lands once; on the serving side every family keys
  * its query batch through [[oneQueryPerId]] by the same rule.
  * `IndexMaintenanceSpec` pins the law per family:
  * `updateFromVersioned(v1→v2) == buildVersioned(v2)` (content
  * equality; for IVF/PQ "from scratch" means re-derived under the SAME
  * frozen codebook).
  */
object IndexMaintenance {

  /** The partition DIRECTORY name Spark's partitioned write produces
    * for `partCol=v` — escaped exactly the way the writer escapes it
    * (spaces, '%', '=', ':' in STRING values; `null` becomes the Hive
    * default-partition marker). Raw interpolation diverges on those and
    * a manifest lookup would miss the real directory. */
  private[graft] def partDirName(partCol: String, v: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val s =
      if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(v.toString)
    s"$partCol=$s"
  }

  /** A family's delta, keyed: `upserts` reduced to ONE row per `key`
    * over the `payload` columns, and the drop-id set (removed ∪ upserted
    * keys, distinct, materialized). A feed may deliver a key twice — a
    * replayed batch, two images of one row — and the delta math counts
    * rows: without the reduction IVF would store duplicate assignments,
    * PQ a `codes` array of length 2·M, BM25 doubled tf/dl. The winner is
    * `max(struct(payload…))`, so it depends on content, never on the
    * feed's row order. */
  private[graft] def keyedDelta(upserts: DataFrame, removedIds: DataFrame,
      key: String, payload: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, max, struct}
    val one = upserts.groupBy(col(key))
      .agg(max(struct(payload.map(col): _*)).as("_w"))
      .select(col(key) +: payload.map(c => col(s"_w.$c").as(c)): _*)
    val dropIds = removedIds.select(col(key))
      .union(upserts.select(col(key))).distinct().localCheckpoint()
    (one, dropIds)
  }

  /** A query batch keyed by `q_id`: one row per id that arrived with
    * ONE payload (first-seen order), and the ids that arrived with two
    * different payloads. A replayed request delivers its (q_id, payload)
    * twice, and scoring both copies would double BM25's multiplicities
    * and return every ANN row twice — so identical copies collapse. Two
    * payloads under one id have no single answer: the probes reject
    * them ([[oneQueryPerId]]), the serve streams drop them. */
  private[graft] def keyedQueries[P](qs: Seq[(Long, P)])
      : (Seq[(Long, P)], Set[Long]) = {
    val one = qs.distinct
    val conflicting = one.groupBy(_._1)
      .collect { case (id, rows) if rows.size > 1 => id }.toSet
    (one.filterNot(q => conflicting(q._1)), conflicting)
  }

  /** [[keyedQueries]] for a library probe: a `q_id` with two different
    * payloads is an error that names it. */
  private[graft] def oneQueryPerId[P](qs: Seq[(Long, P)]): Seq[(Long, P)] = {
    val (one, conflicting) = keyedQueries(qs)
    require(conflicting.isEmpty, "q_id " +
      conflicting.toSeq.sorted.mkString(", ") +
      " delivered with different payloads in one batch")
    one
  }

  /** The per-query top-`k` of a scored `(q_id, …)` frame under `ord`,
    * ranked `rnk` 1..k within each `q_id` — the one frontier every
    * batch ranking (the three index families, q122, the law frames)
    * runs. `nQueries`, the number of distinct `q_id`s in the batch the
    * caller already holds driver-side, picks the plan, never the answer:
    *
    *   - one query: `orderBy(ord).limit(k)`, which Spark runs as
    *     `TakeOrderedAndProject` (a top-k per partition, then one merge),
    *     then `row_number` over `q_id` for `rnk` — the limit's single
    *     output partition already satisfies the window, so the plan has
    *     no exchange;
    *   - several: `row_number ≤ k` over `q_id`, which Spark runs as a
    *     map-side `WindowGroupLimit` (Partial) below the `q_id` exchange,
    *     so the exchange carries ≤ k·|queries|·partitions rows whatever
    *     the corpus size. */
  private[graft] def topKPerQuery(scored: DataFrame, nQueries: Int, k: Int,
      ord: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(col("q_id")).orderBy(ord: _*)
    if (nQueries == 1)
      scored.orderBy(ord: _*).limit(k).withColumn("rnk", row_number().over(w))
    else
      scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** A `(q_id, q_emb)` vector query frame, collected driver-side — the
    * vector families' batch payloads for [[keyedQueries]]. Batch-sized
    * by the serve contract: never call this on a data-sized frame. */
  private[graft] def vectorQueries(queries: DataFrame)
      : Seq[(Long, Seq[Float])] =
    queries.select("q_id", "q_emb").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

  /** The diff classes of two `doc_id`-keyed snapshots over the compared
    * columns `cols`: (upserts = added ∪ changed rows of `v2`, removed
    * ids = in `v1` only) — the one null-safe full-outer diff every
    * maintenance consumer of two snapshots feeds from (the nightly's
    * corpus step, the q136/q138 lifecycle, the q143/q144 fixture, the
    * specs). PRESENCE decides added/removed, never a null hash, and
    * each row's hash carries one marker per column beside its value:
    * xxhash64 SKIPS null inputs and hashes zero elements for an empty
    * array — both leave the running hash untouched, so (null text) vs
    * (absent) and (embedding null) vs (embedding []) would collide and
    * the update silently never publish. A non-array column's marker is
    * its null flag, an array's its size (-2 when null). */
  private[graft] def contentDiff(v1: DataFrame, v2: DataFrame,
      cols: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.ArrayType
    def h(df: DataFrame, hc: String, fc: String) = {
      val markers = cols.map(c => df.schema(c).dataType match {
        case _: ArrayType => coalesce(size(col(c)).cast("long"), lit(-2L))
        case _ => when(col(c).isNull, 1L).otherwise(0L)
      })
      df.select(col("doc_id"), xxhash64(cols.map(col) ++ markers: _*).as(hc),
        lit(true).as(fc))
    }
    val d = h(v1, "h1", "in1")
      .join(h(v2, "h2", "in2"), Seq("doc_id"), "full_outer")
      .localCheckpoint() // consumed twice; an id+hash frame, far smaller
                         // than the corpus
    val removed = d.filter(col("in2").isNull).select(col("doc_id"))
    val upsertIds = d.filter(col("in2").isNotNull &&
        (col("in1").isNull || !(col("h1") <=> col("h2"))))
      .select(col("doc_id"))
    (v2.join(upsertIds, "doc_id"), removed)
  }

  /** Adapt a [[VersionedTable.changes]] CDC feed into the
    * `(upserts, removedIds)` pair every index family's
    * `updateFromVersioned` takes (round-11 verdict item 4) — so index
    * maintenance can be DRIVEN BY THE FEED instead of re-diffing the
    * corpus: `insert` and `update_post` images are the rows to (re)index
    * (maintenance drops an upserted key's old rows by id, so the
    * `update_pre` image is not needed — the index itself holds the old
    * state); `delete` rows are the removals. `update_pre` images carry
    * the retraction information AGGREGATE consumers need (q144) and are
    * simply not selected here. The law, spec-pinned per family in
    * `IndexMaintenanceSpec`:
    * `updateFromVersioned(deltaFromChanges(changes(v1, v2))) == build(v2)`.
    * `keep` projects the upsert rows to what the family consumes (e.g.
    * BM25 takes (doc_id, text), the vector families (vec_id,
    * embedding)) — the feed carries the corpus row, each index reads
    * its slice. */
  def deltaFromChanges(feed: DataFrame, keyCol: String,
      keep: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val upserts = feed
      .filter(col("change_type").isin("insert", "update_post"))
      .select((keyCol +: keep).distinct.map(col): _*)
    val removed = feed.filter(col("change_type") === "delete")
      .select(col(keyCol))
    (upserts, removed)
  }

  /** [[deltaFromChanges]] with MODALITY ROUTING: drop update pairs whose
    * `keep` columns are unchanged between the pre and post images. A
    * multimodal corpus row changes per modality — a re-embedding night
    * updates only the embedding column of most docs — and while a no-op
    * upsert is CORRECT for every index family (the maintenance math
    * re-derives the same rows), it is not FREE: the lexical index would
    * rewrite every bucket of every re-embedded doc's terms, breaking
    * copy-on-write sharing and delta-boundedness for an identical end
    * state. Comparison is null-safe struct equality over the `keep`
    * columns, exactly the classifier's own rule — so a pair this drops
    * is one `changes` would not have emitted had the OTHER columns not
    * moved. Inserts and deletes always pass (presence changed). The
    * end-state law is unchanged and spec-pinned: filtered maintenance
    * == build(v2); the new law is that an other-modality-only night
    * leaves this index's generations untouched (`IndexMaintenanceSpec`,
    * generation-id equality). */
  def deltaFromChangesIn(feed: DataFrame, keyCol: String,
      keep: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, struct}
    val (upserts, removed) = deltaFromChanges(feed, keyCol, keep)
    val img = struct(keep.map(col): _*)
    def side(ct: String, alias: String) =
      feed.filter(col("change_type") === ct)
        .select(col(keyCol), img.as(alias))
    // keys whose update pair is IDENTICAL in this modality — delta-sized
    val unchangedKeys = side("update_pre", "_a")
      .join(side("update_post", "_b"), keyCol)
      .filter(col("_a") <=> col("_b"))
      .select(col(keyCol))
    (upserts.join(unchangedKeys, Seq(keyCol), "left_anti"), removed)
  }

  /** Distinct values of `col` in `df`, collected driver-side — the
    * partition routing sets are delta-sized (buckets of the delta's
    * terms/ids, cells of the delta's vectors), never corpus-sized. */
  private[graft] def distinctVals(df: DataFrame, colName: String): Seq[Any] =
    df.select(colName).distinct().collect().map(_.get(0)).toSeq

  /** Rows of `df` whose `idCol` is in `ids` — as a LITERAL
    * `IN`-predicate pushed into the scan when the delta is small
    * enough to ship in a plan (the common nightly case: parquet
    * row-group stats then skip everything the delta doesn't touch, so
    * recovering the dropped docs'/vectors' old rows reads
    * delta-bounded data, not the corpus — a broadcast JOIN can't do
    * that: it scans everything and filters after). Very large deltas
    * fall back to the broadcast join, where the full scan is
    * proportionate to the work anyway. */
  private[graft] def filterByIds(df: DataFrame, idCol: String,
      ids: DataFrame, pushLimit: Int = 10000): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // dedup INSIDE the helper, not by caller contract: the isin branch
    // dedups implicitly but the join branch would emit one output row
    // per duplicate id — doubling df decrements / dropped-dl sums in a
    // delta-math caller that forgot its own .distinct() — and duplicate
    // rows would also misroute a few-distinct-ids frame past pushLimit
    // into the full-scan branch (round-10 review)
    val distinctIds = ids.select(col(idCol)).distinct()
    val sample = distinctIds.limit(pushLimit + 1).collect()
    if (sample.length <= pushLimit)
      df.filter(col(idCol).isin(sample.map(_.get(0)).toSeq: _*))
    else df.join(broadcast(distinctIds), Seq(idCol))
  }
}
