package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level function surface of the engine (Spark-native replacements
  * for the reference's Python UDFs — SURVEY.md §2.4).
  */
package object functions {

  /** string_similarity(a, b) — the reference's fuzzy-match metric
    * (/root/reference/soulutionOne.py:8-11), 0-100, difflib-exact. A
    * native codegen Catalyst expression (see
    * [[RatcliffObershelpSimilarity]]); null in → null out.
    */
  def string_similarity(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(RatcliffObershelpSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Sequential-fold dot product of two `array<double>` columns — the ANN
    * scorer's kernel as a native codegen expression (see [[DotProduct]]);
    * bit-identical to the `aggregate(zip_with(...))` fold it replaces.
    */
  def dot_product(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Exact long-accumulated dot product of two `array<tinyint>` columns
    * — the SQ8 candidate scorer's kernel as a native codegen expression
    * (see [[DotProductI8]]); integer arithmetic, so the ranking it
    * drives is engine-independent with no FP-parity argument.
    */
  def dot_product_i8(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DotProductI8(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** All space-joined n-grams of consecutive elements of a string-array
    * column — the shingling kernel as a native codegen expression (see
    * [[WordNGrams]]); semantics identical to the transform/slice/concat_ws
    * fold it replaces.
    */
  def word_ngrams(arr: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(WordNGrams(ColumnBridge.expression(arr), n))
  }

  /** Distinct winnowing-selected fingerprints of a token array — the
    * whole per-document selection as one codegen kernel (see
    * [[WinnowFingerprints]]); bit-identical to the md5hash60 → rolling
    * k-gram → window-min HOF chain it replaces.
    */
  def winnow_fingerprints(toks: Column, k: Int, w: Int,
                          base: Long, mod: Long): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(WinnowFingerprints(
      ColumnBridge.expression(toks), k, w, base, mod))
  }

  /** Z-order (Morton) interleave of the low 32 bits of two long columns —
    * the multi-dimensional clustering key for layout maintenance (see
    * [[ZOrder]]); pure integer math, bit-identical in any engine.
    */
  def z_order(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(ZOrder(
      ColumnBridge.expression(a.cast("long")), ColumnBridge.expression(b.cast("long"))))
  }

  /** 2-D Hilbert-curve index over the low 16 bits of each input — the
    * locality-better layout key next to [[z_order]] (see
    * [[HilbertOrder]]).
    */
  def hilbert_order(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(HilbertOrder(
      ColumnBridge.expression(a.cast("long")), ColumnBridge.expression(b.cast("long"))))
  }

  /** Jump consistent hash (Lamping & Veach 2014) — the incremental-
    * publishing shard assigner: growing n -> n+1 moves only the keys
    * landing in the new shard (see [[JumpHash]]); feed it a well-mixed
    * key ([[md5hash60]]), not raw sequential ids.
    */
  def jump_hash(key: Column, n: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(JumpHash(
      ColumnBridge.expression(key.cast("long")),
      ColumnBridge.expression(n.cast("long"))))
  }

  /** Unicode NFC normalization (TR15 canonical composition) — byte-stable
    * fingerprints across mixed normalization forms (see [[NfcNormalize]]);
    * mirrors DuckDB's `nfc_normalize` byte-for-byte.
    */
  def nfc_normalize(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
  }

  /** Distinct FNV-1a 64-bit hashes of a string's ≤k-deletion neighborhood
    * — the SymSpell candidate generator as a native codegen expression
    * (see [[DeletionVariantHashes]]); identical to
    * `deletionVariants(s, k).map(fnv1a64)`.
    */
  def deletion_variant_hashes(c: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DeletionVariantHashes(ColumnBridge.expression(c), k))
  }

  /** Per-subspace PQ code ids of an `array<double>` vector column under
    * frozen codebooks — argmin squared L2 per subspace, ties to the lower
    * code id, as one native codegen kernel (see [[PqCodes]]);
    * `array<bigint>` of length m, identical to the codeword cross join +
    * `min(struct(d2, c))` aggregate it replaces. Out-of-range reads
    * follow element_at under the active session's ANSI mode.
    */
  def pq_codes(emb: Column, model: graft.operators.Ann.PqModel): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val ansi = org.apache.spark.sql.SparkSession.active.conf
      .get("spark.sql.ansi.enabled").toBoolean
    ColumnBridge.column(PqCodes(ColumnBridge.expression(emb),
      PqCodebooks(model.subDim, model.codebooks), ansi))
  }

  /** P7: equalName(c1, c2) (/root/reference/soulutionOne.py:13-18) — the
    * lexicographic min of two strings as the cluster representative. A
    * Python UDF in the reference; Spark's built-in codegen'd `least` here.
    */
  def canonical_key(a: Column, b: Column): Column = least(a, b)

  /** P2 intent: the reference's `df["name"] + df["iban"]`
    * (/root/reference/solutionThree.py:19) meant concatenation but PySpark
    * `+` on strings is arithmetic plus (→ null on non-numeric data — SURVEY
    * §4 bug 1). The engine implements the intent.
    */
  def concat_key(cols: Column*): Column = concat(cols: _*)

  /** Deterministic 60-bit hash shared with the DuckDB oracle:
    * Spark `conv(substr(md5(s),1,15),16,10)::long` ==
    * DuckDB `('0x' || substr(md5(s),1,15))::BIGINT`. Seeded variants prefix
    * the input. Used by MinHash/SimHash so near-dup sketches are
    * oracle-comparable (md5 is identical across engines; xxhash64 is not).
    */
  def md5hash60(c: Column, seed: Int = 0): Column = {
    val in = if (seed == 0) c else concat(lit(seed.toString + ":"), c)
    conv(substring(md5(in), 1, 15), 16, 10).cast("long")
  }
}
