package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus versioning: the snapshot-refresh operations a training-data
  * pipeline runs on every new crawl drop — diff two snapshots, MERGE
  * (upsert) a refresh batch into the corpus, maintain an SCD-2-style
  * versioned history. All pure Column algebra; the scale contracts are
  * per-operator below. Keys are assumed unique per snapshot (the corpus
  * invariant every dedup family here enforces upstream).
  */
object Versioning {

  /** Classify every key across two snapshots by a fingerprint column:
    * `added` (new only), `removed` (old only), `changed` (both, fp
    * differs — null-safe compare). Unchanged keys are dropped: they are
    * the mass, and nobody audits them. Scale shape: only (key, fp) — a
    * key plus 16 bytes — crosses the one key-shuffle; both inputs are
    * column-pruned at the scan. The full-outer join is unavoidable for a
    * diff (presence on either side matters), so the plan's cost is one
    * co-partitioned sort-merge join at (|old| + |new|) narrow rows. */
  def diffSnapshots(oldSnap: DataFrame, newSnap: DataFrame,
      key: String, fp: String): DataFrame = {
    val o = oldSnap.select(col(key), col(fp).as("old_fp"))
      .withColumn("__in_old", lit(true))
    val n = newSnap.select(col(key), col(fp).as("new_fp"))
      .withColumn("__in_new", lit(true))
    o.join(n, Seq(key), "full_outer")
      .withColumn("change_type",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(!(col("old_fp") <=> col("new_fp")), lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(col(key), col("change_type"), col("old_fp"), col("new_fp"))
  }

  /** MERGE a refresh batch into the corpus: a batch row replaces the
    * corpus row with its key, new keys are appended, untouched corpus
    * rows pass through. Schemas must match (unionByName).
    *
    * Scale shape — the batch is small, the corpus is the 100 TB side:
    * the corpus NEVER shuffles — its rows stream once through a
    * broadcast LEFT ANTI join on the batch's keys and the union is
    * append-only. The hint is COUNT-GUARDED (the verifyJaccard pattern):
    * the batch plan is executed once to size it — O(batch) by this
    * operator's contract; the corpus side never runs — and a batch past
    * `maxBroadcastKeys` falls back to a plain shuffled anti-join with
    * identical output instead of forcing an unbounded broadcast. A batch
    * too large to count cheaply can be pre-filtered with the bloom
    * pattern of [[Dedup.incrementalDups]] so only might-match corpus
    * rows pay the exact join. Idempotent: applying the same batch twice
    * equals once (VersioningSpec). */
  def upsert(corpus: DataFrame, updates: DataFrame, key: String,
      maxBroadcastKeys: Long = CorpusStore.DefaultMaxBroadcastKeys): DataFrame = {
    val keys = updates.select(col(key))
    val kept =
      if (updates.count() <= maxBroadcastKeys)
        corpus.join(broadcast(keys), Seq(key), "left_anti")
      else corpus.join(keys, Seq(key), "left_anti")
    updates.unionByName(kept)
  }

  /** SCD-2 apply: evolve a versioned history `(key, fp, valid_from,
    * valid_to)` (valid_to NULL = open) to a new snapshot `(key, fp)`
    * taken at `asOfTs` (a timestamp literal/column):
    *
    *   - key in both, same fp      -> open row unchanged
    *   - key in both, fp changed   -> close the open row at asOfTs AND
    *                                  open a new version from asOfTs
    *   - key only in history       -> close the open row at asOfTs
    *   - key only in the snapshot  -> open a first version from asOfTs
    *
    * Already-closed history rows pass through WITHOUT joining — at scale
    * the closed mass (the bulk of a long-lived history) never shuffles;
    * only the open slice joins the snapshot on one key-shuffle. The
    * changed-key case emits two rows via a conditional array explode —
    * still one pass, no second join. Invariants (spec-checked): at most
    * one open row per key; re-applying the same snapshot is a no-op. */
  def scd2Apply(history: DataFrame, snapshot: DataFrame, key: String,
      fp: String, asOfTs: String): DataFrame = {
    val asOf = lit(asOfTs).cast("timestamp")
    val nullTs = lit(null).cast("timestamp")
    val closed = history.filter(col("valid_to").isNotNull)
    val open = history.filter(col("valid_to").isNull)
      .select(col(key), col(fp).as("h_fp"), col("valid_from").as("h_from"))
      .withColumn("__in_h", lit(true))
    val snap = snapshot.select(col(key), col(fp).as("s_fp"))
      .withColumn("__in_s", lit(true))
    def row(f: org.apache.spark.sql.Column, from: org.apache.spark.sql.Column,
        to: org.apache.spark.sql.Column) =
      struct(f.as("fp"), from.as("valid_from"), to.as("valid_to"))
    val evolved = open.join(snap, Seq(key), "full_outer")
      .select(col(key), explode(
        when(col("__in_h").isNotNull && col("__in_s").isNotNull &&
            (col("h_fp") <=> col("s_fp")),
          array(row(col("h_fp"), col("h_from"), nullTs)))
        .when(col("__in_h").isNotNull && col("__in_s").isNotNull,
          array(row(col("h_fp"), col("h_from"), asOf),
            row(col("s_fp"), asOf, nullTs)))
        .when(col("__in_h").isNotNull,
          array(row(col("h_fp"), col("h_from"), asOf)))
        .otherwise(array(row(col("s_fp"), asOf, nullTs)))).as("__r"))
      .select(col(key), col("__r.fp").as(fp),
        col("__r.valid_from").as("valid_from"),
        col("__r.valid_to").as("valid_to"))
    closed.select(col(key), col(fp), col("valid_from"), col("valid_to"))
      .unionByName(evolved)
  }
}
