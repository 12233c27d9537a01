package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy longest-match subword tokenization against a fixed vocabulary —
  * the deterministic core of a BPE/WordPiece tokenizer once its merge table
  * is frozen. Real training jobs budget sequences in SUBWORD tokens, not
  * whitespace words, so token accounting (chunk windows, pack bins — q83/
  * q84/q89) needs this, not `size(split(text))`.
  *
  * A pure per-row column function: the vocab rides the expression as a
  * config payload (the HyperplaneSignature pattern — serialized once into
  * the codegen references, NOT a per-row lookup join), each word is consumed
  * left-to-right taking the longest vocab prefix at every position, and
  * characters outside the vocab degrade to a 1-char `<unk>` token. No UDF,
  * no shuffle, no driver involvement — at 100 TB this runs as one map-only
  * pass exactly like the regex estimate it replaces.
  */
object GreedyBpe {

  val Unk = "<unk>"

  /** Frozen demo vocab: all [a-z0-9] singles (so alphanumeric text never
    * hits `<unk>`) + ~150 frequent English merges, longest 5 chars. A real
    * deployment swaps in its tokenizer's merge output; everything else —
    * expression, codegen, accounting queries, tests — is unchanged. */
  val Vocab: Seq[String] = {
    val singles = ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)
    val merges = Seq(
      "the", "ing", "ion", "and", "ent", "for", "ter", "ati", "tion", "ment",
      "able", "ness", "ight", "ough", "ance", "er", "in", "on", "at", "en",
      "es", "or", "an", "re", "ed", "nd", "st", "ar", "te", "al", "it", "is",
      "to", "of", "ou", "le", "se", "ve", "me", "de", "co", "ra", "ri", "ro",
      "li", "la", "ne", "ic", "ca", "ta", "el", "ma", "na", "ni", "si", "di",
      "ce", "ha", "hi", "ho", "un", "ur", "us", "ut", "om", "ol", "il", "ac",
      "ad", "ag", "am", "ap", "as", "ab", "be", "bo", "bu", "ch", "ck", "cl",
      "cr", "ct", "cu", "da", "do", "ds", "du", "ea", "ec", "ee", "eg", "em",
      "ep", "et", "ex", "fa", "fi", "fo", "fr", "ga", "ge", "gh", "gi", "go",
      "gr", "gu", "id", "ig", "im", "ip", "ir", "iv", "ke", "ki", "ks", "ld",
      "lo", "lu", "ly", "mo", "mp", "mu", "nc", "ng", "no", "ns", "nt", "ny",
      "ob", "oc", "od", "og", "oo", "op", "ot", "ow", "pa", "pe", "pl", "po",
      "pr", "qu", "rd", "rs", "ru", "ry", "sa", "sc", "sh", "so", "sp", "ss",
      "su", "th", "ti", "tr", "tu", "ty", "ub", "uc", "ue", "ul", "um", "up",
      "vi", "wa", "we", "wi")
    singles ++ merges
  }

  /** Reference tokenizer for one word (plain Scala — also the test oracle).
    * Greedy: at each position take the longest vocab entry that prefixes the
    * remaining suffix; no match consumes one char as `<unk>`. */
  def tokenizeWord(word: String, vocab: Set[String], maxLen: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var pos = 0
    while (pos < word.length) {
      var l = math.min(maxLen, word.length - pos)
      var hit: String = null
      while (hit == null && l >= 1) {
        val cand = word.substring(pos, pos + l)
        if (vocab.contains(cand)) hit = cand else l -= 1
      }
      if (hit == null) { out += Unk; pos += 1 }
      else { out += hit; pos += hit.length }
    }
    out.result()
  }

  /** Row kernel shared by interpreted eval and codegen: tokenize every word
    * of the array, return the concatenated subword array. */
  def tokenizeWords(words: ArrayData, vocab: Set[String], maxLen: Int): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < words.numElements()) {
      val ws = words.getUTF8String(i)
      // ArrayType(StringType) admits null elements; split() never produces
      // them, but a direct SQL call over an array literal can — map to <unk>
      // rather than NPE-ing the task.
      if (ws == null) out += UTF8String.fromString(Unk)
      else tokenizeWord(ws.toString, vocab, maxLen)
        .foreach(t => out += UTF8String.fromString(t))
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** `graft_bpe_tokens(array<string>) -> array<string>`: per-word greedy
  * longest-match subword split (see [[GreedyBpe]]). */
case class GreedyBpeTokens(child: Expression, vocab: Seq[String] = GreedyBpe.Vocab)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_tokens"

  @transient private lazy val vocabSet: Set[String] = vocab.toSet
  @transient private lazy val maxLen: Int = vocab.map(_.length).max

  override def nullSafeEval(v: Any): Any =
    GreedyBpe.tokenizeWords(v.asInstanceOf[ArrayData], vocabSet, maxLen)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // vocab is a broadcast-sized constant: serialized once into the
    // generated class's references, shared by every row of the task
    val vocabRef = ctx.addReferenceObj("bpeVocab", vocabSet, "scala.collection.immutable.Set")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.GreedyBpe.tokenizeWords($a, $vocabRef, $maxLen)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GreedyBpeTokens {
  def apply(arr: Column): Column =
    GraftShims.column(GreedyBpeTokens(GraftShims.expression(arr)))

  /** Tokenize against an explicit vocabulary — the deploy path for a vocab
    * learned by [[BpeTrainer]] (q106 trains, q107 tokenizes with it). */
  def apply(arr: Column, vocab: Seq[String]): Column =
    GraftShims.column(GreedyBpeTokens(GraftShims.expression(arr), vocab))
}
