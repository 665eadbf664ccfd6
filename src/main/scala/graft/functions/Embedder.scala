package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** E1/E3/E4 embedding operators (SURVEY §2.5).
  *
  * The reference calls OpenAI/HuggingFace (storage/embeddings.py:289-323) and its own
  * tests mock the model with deterministic vectors (tests/conftest.py:36-43). We keep
  * the same boundary: an [[Embedder]] produces vectors from text, and the default
  * implementation is a pure, seeded feature-hash — fully distributed, reproducible
  * across runs and engines (FIXTURES.md §6).
  */
trait Embedder extends Serializable {
  def dim: Int

  /** Array[Double] column of length `dim`, L2-normalized; null, empty or
    * whitespace text ⇒ zero vector (embeddings.py:180-203). */
  def embed(text: Column): Column

  /** Attach an embedding column to a corpus-sized frame. Default is one
    * [[embed]] column; an implementation whose [[embed]] would not scale to a
    * corpus (a per-row model call, say) overrides it with a batched path. */
  def embedInto(df: DataFrame, textCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, embed(col(textCol)))

  /** Driver-side single-text embedding, when the implementation can compute the
    * EXACT same vector without a Spark job (query-time latency: embedding one
    * question must not cost a cluster round-trip). None ⇒ callers fall back to
    * the Column path. */
  def embedOne(text: String): Option[Seq[Double]] = None

  /** Identity string for stored-index compatibility checks: two embedders with
    * different fingerprints produce incomparable vector spaces even at the
    * same `dim` (same-dim seed or stopword changes silently score garbage
    * similarities against a stale store). Implementations must fold EVERY
    * vector-affecting parameter in. Default covers only the dimension. */
  def fingerprint: String = s"dim=$dim"
}

/** Deterministic hash embedder: tokens → signed feature-hash buckets → L2 normalize.
  *
  * bucket(t) = int(md5(seed‖t)[0:8], 16) % dim ; sign(t) = ±1 from the next md5 hex
  * digit; vec[j] = Σ over token occurrences with bucket j of sign(t), then v/‖v‖₂.
  * [[embedOne]] is the only computation of a vector; [[embed]] runs it per row,
  * so the driver and every Spark path agree bit-for-bit.
  *
  * `stopwords` (default empty — bit-compatible with every existing oracle):
  * tokens dropped BEFORE hashing. The eval harness uses
  * this because a stopword bucket carries weight ≥ 2 in most questions, so a
  * single content-token collision INTO that bucket scores above the genuine
  * two-token signal tier (measured r14: a junk relation at 0.452 vs signal
  * 0.302) — semantic embedders down-weight function words implicitly; the
  * hash double needs the dial explicit.
  */
final case class HashEmbedder(dim: Int = 64, seed: String = "graft42",
    stopwords: Set[String] = Set.empty) extends Embedder {

  /** dim + seed + order-free stopword-set hash — the full vector-affecting
    * parameter set of this embedder. */
  override def fingerprint: String = {
    val sw = org.apache.commons.codec.digest.DigestUtils.md5Hex(
      stopwords.toSeq.sorted.mkString("\u0000"))
    s"HashEmbedder(dim=$dim,seed=$seed,stopwords=$sw)"
  }

  /** [[embedOne]] as a row UDF: O(tokens) per row, so it serves query frames
    * and corpus tables alike (the trait's [[embedInto]]). A typed Scala UDF
    * declares non-null elements; the cast keeps the column `array<double>`
    * with nullable elements, the type every stored embedding column has. */
  override def embed(text: Column): Column = {
    udf((t: String) => embedOne(t).get).apply(text).cast("array<double>")
  }

  /** The hash vector of `text`: T2 tokenization as [[Norm.normTokens]]
    * (lowercase, non-[a-z0-9 ] → space, trim, split), stopwords dropped, md5
    * bucket/sign per token occurrence (sums of ±1.0 are exact in double), and
    * the L2 norm accumulated in index order, as
    * [[VectorFunctions.l2Normalize]]'s sequential dot product does. Null,
    * empty or whitespace-only text ⇒ zero vector. */
  override def embedOne(text: String): Option[Seq[Double]] = {
    val toks = if (text == null) Array.empty[String] else text
      .toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9 ]", " ").trim
      .split(" ").filter(_.nonEmpty).filterNot(stopwords.contains)
    val v = Array.fill(dim)(0.0d)
    toks.foreach { t =>
      val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(seed + t)
      val b = (java.lang.Long.parseLong(hex.substring(0, 8), 16) % dim).toInt
      val s = if (Integer.parseInt(hex.substring(8, 9), 16) >= 8) -1.0d else 1.0d
      v(b) += s
    }
    var acc = 0.0d
    var i = 0
    while (i < dim) { acc += v(i) * v(i); i += 1 }
    val norm = math.sqrt(acc)
    Some(if (norm == 0.0d) v.toSeq else v.map(_ / norm).toSeq)
  }
}

/** E2 instruction templating (embeddings.py:17-30): query-vs-document prefixing. */
object InstructionTemplate {
  def forQuery(text: Column, instruction: String = "Represent this sentence for searching relevant passages"): Column =
    concat(lit(instruction), lit(": "), text)
  def forDocument(text: Column): Column = text
}
