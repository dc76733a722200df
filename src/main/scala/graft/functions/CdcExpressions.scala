package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType

/** CONTENT-DEFINED CHUNKING (CDC — the Rabin/gear-style variable-size
  * chunking behind storage dedup and near-identical-document detection):
  * a boundary falls AFTER position `i` wherever the rolling window hash
  * `h(i) = Σ_{j<w} c[i−j]·31^j` satisfies `h(i) mod 2^maskBits == 0`.
  * Because `h` depends only on the last `w` characters — never on where
  * previous boundaries fell — chunking SELF-SYNCHRONIZES: two documents
  * sharing a long substring re-align on the same boundaries a few
  * characters into the shared region regardless of differing prefixes,
  * so shared content dedups even when fixed-width windows would all be
  * shifted. (That property is exactly what [[graft.operators.Dedup]]'s
  * fixed-window family cannot provide.)
  *
  * Kept deliberately free of production CDC's min/max chunk-length
  * clamps: the clamps make boundaries depend on the PREVIOUS boundary
  * (sequential state), which is un-replayable in set-based SQL — and the
  * oracle-replayability of every boundary is what the q325/q326 gates
  * buy. Expected chunk length is 2^maskBits characters; pathological
  * short chunks are possible and harmless (they dedup like any other).
  * Character model: UTF-16 code units (= code points on ASCII/BMP
  * corpora, matching SQL `unicode()` per character).
  *
  * One fused kernel call per row — zero shuffle, stream-safe; the
  * cross-document dedup downstream is one group-by on chunk hashes.
  */
object CdcKernel {

  /** Flattened (start, len) chunk spans of `text`, 1-BASED starts (the
    * SQL `substr` convention, so gates slice identically in both
    * engines). Empty text → no chunks; text shorter than the window →
    * one chunk (no hash is defined). */
  def chunkSpans(text: String, window: Int, maskBits: Int): Array[Long] = {
    val n = text.length
    if (n == 0) return Array.empty
    val mask = (1L << maskBits) - 1L
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var i = window - 1
    while (i < n - 1) {
      var h = 0L
      var j = 0
      var p = 1L
      while (j < window) {
        h += text.charAt(i - j).toLong * p
        p *= 31L
        j += 1
      }
      if ((h & mask) == 0L) {
        out += (start + 1).toLong; out += (i - start + 1).toLong
        start = i + 1
      }
      i += 1
    }
    out += (start + 1).toLong; out += (n - start).toLong
    out.toArray
  }

  /** The PRODUCTION clamped variant: a hash boundary is honored only
    * once the current chunk spans >= `minLen` characters, and a chunk
    * reaching `maxLen` splits unconditionally — the bounds every
    * deployed CDC runs with (they bound index entries per byte and the
    * worst-case chunk a task must buffer). Clamps make boundaries
    * SEQUENTIAL state (each depends on where the previous one fell), so
    * this variant is un-replayable in set-based SQL and stays SPEC-gated
    * (`CdcSpec` pins clamped ≡ [[chunkSpans]] when no clamp binds, the
    * min-suppression / max-forcing behaviors, and that
    * self-synchronization still holds after one resync boundary). The
    * window hash itself stays stream-global — identical to the unclamped
    * form. */
  def chunkSpansClamped(
      text: String, window: Int, maskBits: Int,
      minLen: Int, maxLen: Int): Array[Long] = {
    require(minLen >= 1 && maxLen >= minLen,
      s"need 1 <= minLen <= maxLen, got [$minLen, $maxLen]")
    val n = text.length
    if (n == 0) return Array.empty
    val mask = (1L << maskBits) - 1L
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var i = 0
    while (i < n - 1) {
      val curLen = i - start + 1
      var cut = curLen >= maxLen
      if (!cut && curLen >= minLen && i >= window - 1) {
        var h = 0L
        var j = 0
        var p = 1L
        while (j < window) {
          h += text.charAt(i - j).toLong * p
          p *= 31L
          j += 1
        }
        cut = (h & mask) == 0L
      }
      if (cut) {
        out += (start + 1).toLong; out += curLen.toLong
        start = i + 1
      }
      i += 1
    }
    out += (start + 1).toLong; out += (n - start).toLong
    out.toArray
  }
}

object CdcExpressions {
  /** Flattened 1-based (start, len) CDC chunk spans of a text column. */
  def cdcChunkSpans(text: Column, window: Int, maskBits: Int): Column = {
    require(window >= 2 && window <= 16, s"window out of [2,16]: $window")
    require(maskBits >= 1 && maskBits <= 20, s"maskBits out of [1,20]: $maskBits")
    KernelCall.column("graft_cdc_chunks", CdcKernel, "chunkSpans", KernelCall.LongArray,
      Seq(text -> StringType), window, maskBits)
  }
}
