package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture application — folding a keyed changelog of
  * upserts and deletes into a base snapshot. This is the maintenance
  * primitive behind every continuously-updated corpus table (document
  * stores with takedowns, label corrections, re-crawled pages): the
  * snapshot is rewritten from (base ∪ log) by keeping each key's
  * highest-sequence version and dropping keys whose latest version is
  * a tombstone.
  *
  * Scale shape: ONE key-partitioned shuffle over (base ∪ log). The
  * keep-latest ranking is `row_number` over (key, seq desc) filtered
  * to 1, which Spark plans with a map-side (Partial) WindowGroupLimit
  * — each map task forwards at most one candidate row per key below
  * the exchange, so a key with a million changelog entries ships one
  * row, not a million. No broadcast, no driver state; at 100 TB the
  * cost is the one shuffle of the DELTA plus the touched base
  * partitions (pair with partition pruning on the base read when the
  * log's key range is known).
  */
object Changelog {

  /** Apply a changelog to a base snapshot.
    *
    * @param base    current snapshot, at most one row per key, no
    *                `seqCol`/`opCol` columns — treated as version
    *                `Long.MinValue` upserts so any log entry outranks it
    * @param log     change rows: the base's data columns plus `seqCol`
    *                (monotone change sequence — unique per key, as CDC
    *                offsets are) and `opCol` ("U" upsert / "D" delete;
    *                a delete's data columns are ignored)
    * @return the new snapshot: per key the highest-seq version's data
    *         columns; keys whose latest entry is a delete are absent
    */
  def applyLog(
      base: DataFrame,
      log: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String
  ): DataFrame = {
    require(
      !base.columns.contains(seqCol) && !base.columns.contains(opCol),
      s"base snapshot must not carry $seqCol/$opCol")
    val rn = Iterator.iterate("__rn")(_ + "_").dropWhile(log.columns.contains).next()
    val tagged = base
      .withColumn(seqCol, lit(Long.MinValue))
      .withColumn(opCol, lit("U"))
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc)
    tagged
      .unionByName(log)
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1 && col(opCol) =!= "D")
      .drop(rn, seqCol, opCol)
  }

  /** Diff two snapshot VERSIONS of a keyed table — the audit twin of
    * [[applyLog]] (what changed between dataset v1 and v2: the release
    * note every curation cycle owes its consumers). Returns only the
    * difference rows — (key, change ∈ added | removed | changed) —
    * never the unchanged bulk.
    *
    * Scale shape: each side collapses to (key, 32-byte sha-256 digest)
    * MAP-SIDE before the one full-outer key shuffle, so shuffle bytes
    * are ∝ keys, not documents ([[Dedup]]'s digest-not-text
    * discipline); unchanged keys drop in the post-join projection, so
    * the output is ∝ the delta. With both snapshots bucketed on the
    * key the exchange disappears entirely.
    */
  def snapshotDiff(
      before: DataFrame,
      after: DataFrame,
      keyCol: String,
      payloadCol: String
  ): DataFrame = {
    // explicit presence markers: a NULL payload hashes to NULL, which
    // would otherwise be indistinguishable from an absent key (a row
    // going text -> NULL must read 'changed', not 'removed')
    def side(df: DataFrame, h: String, p: String) =
      df.select(col(keyCol).as("key"), sha2(col(payloadCol), 256).as(h),
        lit(true).as(p))
    side(before, "__hb", "__pb")
      .join(side(after, "__ha", "__pa"), Seq("key"), "full_outer")
      .select(col("key"),
        when(col("__pb").isNull, "added")
          .when(col("__pa").isNull, "removed")
          .when(!(col("__ha") <=> col("__hb")), "changed")
          .as("change"))
      .filter(col("change").isNotNull)
  }

  /** Change verdicts for a REFRESH-CRAWL round from the fetch STATUS
    * first (the protocol's own signal), the payload diff second: real
    * refresh crawlers send If-Modified-Since / If-None-Match, and a
    * `304 Not Modified` row IS an unchanged verdict with NO payload
    * to diff — forcing it through a content diff would misread the
    * absent body as 'removed'. Rows with status 304 emit
    * (key, 'unchanged') directly; rows with a 2xx body diff against
    * `prev` by digest, [[snapshotDiff]]-style (map-side sha-256, so
    * the join ships 32-byte digests, never bodies). Other statuses
    * (4xx/5xx — fetch failures) get NO verdict here; the availability
    * layer owns them.
    *
    * One verdict per key: if a round carries BOTH a 2xx and a 304 row
    * for the same key (retry races, mirrored fetchers), the 2xx body
    * is the fresher signal and wins — the 304 row is dropped rather
    * than emitting a conflicting duplicate 'unchanged'. And a 304 for
    * a key with NO prior snapshot has nothing to be unchanged against
    * (a cache-poisoned or misdirected validator): it gets no verdict,
    * same as the other protocol-anomaly statuses.
    *
    * Scale shape: one key-partitioned window picks the per-key row
    * (map-side WindowGroupLimit — one candidate per key crosses the
    * exchange), then ONE left join against prev's (key, digest)
    * resolves every arm — the fetch side reuses the window's
    * partitioning, so the join adds only prev's exchange. The 304 arm
    * stays body-free: exactly the rows the server saved the crawler
    * from downloading also skip the digest hashing.
    */
  def fetchVerdicts(
      prev: DataFrame,
      fetches: DataFrame,
      keyCol: String,
      payloadCol: String,
      statusCol: String
  ): DataFrame = {
    val is2xx = col(statusCol) >= 200 && col(statusCol) < 300
    val rn = Iterator.iterate("__rn")(_ + "_")
      .dropWhile(fetches.columns.contains).next()
    val perKey = Window
      .partitionBy(col(keyCol))
      .orderBy(when(is2xx, 0).otherwise(1).asc, col(statusCol).asc,
        col(payloadCol).asc_nulls_last)
    val picked = fetches
      .filter(is2xx || col(statusCol) === 304)
      .withColumn(rn, row_number().over(perKey))
      .filter(col(rn) === 1)
      .select(col(keyCol).as("key"), col(statusCol).as("__st"),
        // a 304 carries no body by definition — don't hash its NULL
        when(is2xx, sha2(col(payloadCol), 256)).as("__ha"))
    // explicit presence marker, as in snapshotDiff: a NULL payload
    // hashes to NULL, which must still read as "key present in prev"
    val prevSide = prev.select(col(keyCol).as("key"),
      sha2(col(payloadCol), 256).as("__hb"), lit(true).as("__pb"))
    picked
      .join(prevSide, Seq("key"), "left")
      .select(col("key"),
        when(col("__st") === 304,
          // first-seen 304 (no prior snapshot): no verdict
          when(col("__pb").isNotNull, "unchanged"))
          .otherwise(
            when(col("__pb").isNull, "added")
              .when(!(col("__ha") <=> col("__hb")), "changed"))
          .as("change"))
      .filter(col("change").isNotNull)
  }

  /** The CONDITIONAL-GET plan for the next refresh round — the request
    * side [[fetchVerdicts]]' 304 arm presupposes: from the fetch
    * HISTORY (every round's rows, each carrying whatever validators
    * the server sent — `ETag`, `Last-Modified`, or neither), derive
    * per URL the LAST-KNOWN validators and whether the next request
    * can revalidate (RFC 9110 §13.1.2-3: send `If-None-Match` when an
    * entity tag is held — it outranks dates — and `If-Modified-Since`
    * when a date is; a URL with neither takes a full fetch). A
    * validator persists across rounds that don't re-send one (a 304
    * carries none and confirms the held tag; a 200 without an ETag
    * doesn't erase the one held) and updates when a newer row carries
    * a replacement — "last known", not "last seen".
    *
    * Output: (key, if_none_match, if_modified_since,
    * plan ∈ 'revalidate' | 'full').
    *
    * Scale shape: ONE key-partitioned aggregate with map-side partial
    * combine — each validator is max(struct(time, value)) over the
    * rows that carried one, so shuffle bytes are ∝ keys. No window,
    * no join, no driver state.
    */
  def conditionalFetchPlan(
      fetches: DataFrame,
      keyCol: String,
      timeCol: String,
      etagCol: String,
      lastModifiedCol: String
  ): DataFrame = {
    def latest(c: String) =
      max(when(col(c).isNotNull,
        struct(col(timeCol).as("t"), col(c).as("v")))).getField("v")
    fetches
      .groupBy(col(keyCol).as("key"))
      .agg(
        latest(etagCol).as("if_none_match"),
        latest(lastModifiedCol).as("if_modified_since"))
      .withColumn("plan",
        when(col("if_none_match").isNotNull ||
          col("if_modified_since").isNotNull, "revalidate")
          .otherwise("full"))
  }
}
