package graft

import graft.functions._
import graft.ops.{Dedup, Mining}
import org.apache.spark.ConfDefaults
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.slf4j.LoggerFactory

/** SparkSessionExtensions injector (SURVEY §2.9 / the preferred extension
  * point): the one place a graft kernel enters a session. Every custom
  * expression resolves in plain `spark.sql(...)` and through its Column
  * wrapper in any session built by [[Sessions.local]] (which sets
  * `spark.sql.extensions` to this class), and in every `newSession()` of
  * it. A session built without the extension fails with
  * `UNRESOLVED_ROUTINE`. A new kernel is one `fn` entry here — query code
  * never touches the function registry. Parity needs no custom rules or
  * strategies (SURVEY §4), so functions are the only injection this
  * engine requires; the same class is where a Rule[LogicalPlan] or
  * SparkStrategy would be injected if one ever became necessary.
  *
  * `minhash_sig`, `simhash_sig` and `linear_score` close over the fixed
  * constants (`Dedup`'s hash family and signature width, `Mining`'s weight
  * table) that the oracle SQL inlines from the same values, so they take
  * no per-call parameters that could drift.
  *
  * It also applies the engine's conf defaults ([[ConfDefaults.Defaults]]:
  * Spark's codegen cache size, and the parquet nanos-as-long read the
  * `events` table needs), so that building a query never sets session
  * conf: `apply` runs inside `getOrCreate` after the `SparkContext` exists
  * and before the session clones its conf, so each key gets its default
  * unless it is set. A value set explicitly wins. The codegen cache is
  * JVM-global and sized when the first class compiles; a session whose
  * JVM has compiled classes before this default lands logs a WARN instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    if (ConfDefaults.onActiveContext().contains(ConfDefaults.CodegenCacheKey) &&
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
      LoggerFactory.getLogger(getClass).warn(
        s"${ConfDefaults.CodegenCacheKey} defaults to ${ConfDefaults.CodegenCacheEntries}, but this JVM " +
          "compiled generated classes already, so its codegen cache keeps the size it was built with")
    def fn(name: String, usage: String)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, s"$name$usage", ""), build))
    def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

    fn("rolling_hash", "(str) - mod-p polynomial rolling hash")(
      e => RollingHash(e.head))
    fn("vec_dot", "(a, b) - sequential-fold dot product of double arrays")(
      e => VecDot(e.head, e(1)))
    fn("vec_sqdist", "(a, b) - sequential-fold squared L2 distance of double arrays")(
      e => VecSqDist(e.head, e(1)))
    fn("pq_encode", "(vec, codebook, ids, m) - per-subspace nearest codeword")(
      e => PqEncode(e.head, e(1), e(2), int(e(3))))
    fn("shingle_hashes", "(text, n) - distinct n-gram h60 hashes")(
      e => ShingleHashes(e.head, int(e(1))))
    fn("shingle_hashes_all", "(text, n) - positional n-gram h60 hashes")(
      e => ShingleHashesAll(e.head, int(e(1))))
    fn("winnow_sketch", "(text, k, w) - [n_kgrams, winnowed k-gram hashes]")(
      e => WinnowSketch(e.head, int(e(1)), int(e(2))))
    fn("token_hashes", "(text) - all token h60 hashes")(
      e => TokenHashes(e.head))
    fn("feature_hash_vec", "(text, dim) - signed-count hashing-trick embedding")(
      e => FeatureHashVec(e.head, int(e(1))))
    fn("minhash_sig", "(text) - [n_shingles, Dedup's minhash signature]")(
      e => MinhashSig(e.head, Dedup.ShingleN, Dedup.MinhashPrime,
        Dedup.hashA.toSeq, Dedup.hashB.toSeq))
    fn("simhash_sig", "(text) - [n_tokens, Dedup.SimBits-bit simhash]")(
      e => SimhashSig(e.head, Dedup.SimBits))
    fn("linear_score", "(text) - [n_tokens, Mining.classifierWeights score]")(
      e => LinearScore(e.head, Mining.classifierWeights))
    fn("double_bits", "(x) - raw IEEE-754 bits of a double as BIGINT")(
      e => DoubleBits.withCast(e.head))
    fn("bpe_merge", "(tokens, a, b) - one left-to-right BPE merge round")(
      e => BpeMerge(e.head, e(1), e(2)))
    fn("bitmap_distinct", "(id, maxId) - exact distinct via bitmap agg")(
      e => BitmapDistinct(e.head, int(e(1))).toAggregateExpression())
  }
}
