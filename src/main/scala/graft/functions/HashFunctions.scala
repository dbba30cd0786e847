package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{BloomFilterAgg, BloomMightContain, BloomMightContainAny, ColumnBridge, MinHashSignature, SimHash64, WinnowingFingerprints}

/** Hash-sketch primitives for near-duplicate detection, backed by native
  * codegen'd expressions (org.apache.spark.sql.graft). Both run inside
  * whole-stage codegen — one pass per row, no higher-order-function lambda
  * interpretation — which is what keeps a 100 TB dedup scan CPU-efficient.
  */
object HashFunctions {

  /** SimHash of an array<string> token column: votes over the
    * md5-low-60-bits token hash any engine can recompute (cross-engine
    * reproducible signatures; bits 60-63 always clear). */
  def simhash(toks: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(toks)))

  /** MinHash signature (array<long>, length numHashes) of an array<string>
    * shingle column. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(shingles), numHashes))

  /** Winnowing fingerprints (n-gram hash, window-w min selection) of an
    * array<string> token column — guarantees a shared fingerprint for any
    * shared run of >= w + n - 1 tokens at ~2/(w+1) the density of a full
    * shingle index. The gram hash is the md5-low-60-bits formula any
    * engine can recompute (cross-engine reproducible fingerprints). */
  def winnowing(toks: Column, n: Int, w: Int): Column =
    ColumnBridge.column(WinnowingFingerprints(ColumnBridge.expression(toks), n, w))

  /** Bloom filter (BinaryType bytes) over a pre-hashed long column.
    * numBits/8 bytes of state, map-side partial merge = bitwise OR —
    * broadcastable membership over an arbitrarily large build side. */
  def bloomAgg(hash: Column, numBits: Int, numHashes: Int): Column =
    ColumnBridge.column(
      BloomFilterAgg(ColumnBridge.expression(hash), numBits, numHashes)
        .toAggregateExpression())

  /** Probe a [[bloomAgg]] filter: may-contain (false positives possible,
    * false negatives impossible). Must use the numHashes the filter was
    * built with. */
  def bloomMightContain(bloom: Column, hash: Column, numHashes: Int): Column =
    ColumnBridge.column(BloomMightContain(ColumnBridge.expression(bloom),
      ColumnBridge.expression(hash), numHashes))

  /** Any-of-set probe of a [[bloomAgg]] filter: true when ANY of the
    * pre-hashed keys in the array<long> column may be contained. One
    * expression regardless of key count — the codegen-safe probe for a
    * lookup-join's collected key set (an OR-chain of [[bloomMightContain]]
    * grows the expression tree per key). Empty set probes false. */
  def bloomMightContainAny(bloom: Column, hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(BloomMightContainAny(ColumnBridge.expression(bloom),
      ColumnBridge.expression(hashes), numHashes))
}
