package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization with a fixed merges table, as a native
  * codegen'd expression — the faithful token accounting a training-data
  * pipeline's chunk/shard statistics need (a regex lexer undercounts real
  * subword streams). Classic greedy BPE (Sennrich et al., ACL'16 / the
  * GPT-2 encoder loop): whitespace pre-tokenization, then per word
  * repeatedly merge ALL occurrences of the lowest-ranked adjacent symbol
  * pair until none applies.
  *
  * The merges table ships inside the expression (one reference object per
  * task — the broadcast-analogue for plan-embedded constants, exactly how
  * the MinHash permutation constants travel in HashExprs).
  *
  * Oracle note: applying rank-valid merges SEQUENTIALLY in rank order
  * (each to fixpoint) is equivalent to the classic lowest-rank-first loop
  * — a merged symbol can only be a component of HIGHER-ranked rules, so a
  * lower rule's pair can never reappear once its pass is done. That makes
  * BPE expressible in plain SQL as one nested chain of string `replace`
  * calls over separator-wrapped symbols ([[Bpe.oracleDocCte]]), which is
  * what lets the DuckDB gate hash-match real subword tokenization.
  */
object Bpe {

  /** The deterministic merges fixture (rank = position). Rank-validity
    * invariant, checked below: a rule may use a merged symbol only at a
    * HIGHER rank than the rule that creates it — the property every
    * trained BPE table has, and the one the sequential-replace oracle
    * relies on.
    */
  val Merges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "o" -> "r", "e" -> "n",
    "a" -> "t", "e" -> "s", "o" -> "u", "in" -> "g", "t" -> "o",
    "s" -> "t", "a" -> "r", "l" -> "e", "o" -> "f", "the" -> "r",
    "c" -> "h", "e" -> "d", "i" -> "t", "it" -> "y", "a" -> "l",
    "0" -> "0", "1" -> "9", "2" -> "0")

  // rank-validity check: every multi-char component must be created first
  locally {
    val created = scala.collection.mutable.Set.empty[String]
    Merges.foreach { case (x, y) =>
      require((x.length == 1 || created(x)) && (y.length == 1 || created(y)),
        s"merge rule ($x,$y) uses a symbol no earlier rule creates")
      created += (x + y)
    }
  }

  private[functions] val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    Merges.zipWithIndex.foreach { case ((x, y), i) =>
      m.put(x + " " + y, Integer.valueOf(i))
    }
    m
  }

  def tokens(text: Column): Column =
    Bridge.column(BpeTokens(Bridge.expression(text)))

  // ------------------------------------------------------------------
  // DuckDB oracle SQL (SURVEY §6: the gate re-derives BPE independently)
  // ------------------------------------------------------------------

  /** Encode one word column to a symbol string: every char wrapped as
    * SEP·c·SEP (double separators between symbols so consecutive merges of
    * the same pair can't starve on a shared boundary), then the merges
    * applied in rank order as plain `replace` calls — each replaces all
    * non-overlapping occurrences left-to-right, the same simultaneous scan
    * the classic merge pass does.
    */
  private def oracleEncode(wordExpr: String): String = {
    val sep = "chr(31)"
    val init = s"regexp_replace($wordExpr, '(.)', $sep||" + "'\\1'" + s"||$sep, 'g')"
    Merges.foldLeft(init) { case (e, (x, y)) =>
      s"replace($e, $sep||'$x'||$sep||$sep||'$y'||$sep, $sep||'$x$y'||$sep)"
    }
  }

  /** CTE chain ending in `bpe_doc(doc_id, n_bpe_tokens, bpe_stream)` over
    * the `documents` table: per-doc BPE token count and the full
    * space-joined token stream (token-level equality, not just counts).
    */
  val oracleDocCte: String = {
    val sep = "chr(31)"
    s"""bpe_words AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
       |    generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1)
       |      AS wpos
       |  FROM documents),
       |bpe_enc AS (
       |  SELECT doc_id, wpos, ${oracleEncode("w")} AS e
       |  FROM bpe_words WHERE w <> ''),
       |bpe_tok AS (
       |  SELECT doc_id, wpos, len(string_split(e, $sep||$sep)) AS n,
       |    replace(replace(e, $sep||$sep, ' '), $sep, '') AS ts
       |  FROM bpe_enc),
       |bpe_doc AS (
       |  SELECT d.doc_id,
       |    cast(coalesce(sum(t.n), 0) as bigint) AS n_bpe_tokens,
       |    coalesce(string_agg(t.ts, ' ' ORDER BY t.wpos), '') AS bpe_stream
       |  FROM documents d LEFT JOIN bpe_tok t USING (doc_id)
       |  GROUP BY d.doc_id)""".stripMargin
  }
}

/** The per-row encoder, in one place callable from BOTH the interpreted
  * eval and the generated Java (a static call keeps the expression inside
  * whole-stage codegen without inlining the merge loop into every plan).
  */
object BpeRuntime {

  def encode(text: UTF8String,
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val words = text.toString.trim.split("\\s+")
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var wi = 0
    while (wi < words.length) {
      if (words(wi).nonEmpty) encodeWord(words(wi), ranks, out)
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }

  private def encodeWord(w: String,
      ranks: java.util.HashMap[String, Integer],
      out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    var syms: Array[String] = Array.tabulate(w.length)(i => w.substring(i, i + 1))
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bx: String = null
      var by: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r.intValue < bestRank) {
          bestRank = r.intValue; bx = syms(i); by = syms(i + 1)
        }
        i += 1
      }
      if (bx == null) done = true
      else {
        // merge every occurrence of the winning pair, left to right
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == bx && syms(j + 1) == by) {
            buf += bx + by; j += 2
          } else { buf += syms(j); j += 1 }
        }
        syms = buf.toArray
      }
    }
    var k = 0
    while (k < syms.length) { out += UTF8String.fromString(syms(k)); k += 1 }
  }
}

/** text → array<string> of BPE tokens under the fixture merges table. */
case class BpeTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokens"

  override def nullSafeEval(input: Any): Any =
    BpeRuntime.encode(input.asInstanceOf[UTF8String], Bpe.ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ranks = ctx.addReferenceObj("bpeRanks", Bpe.ranks,
        "java.util.HashMap<String, Integer>")
      s"${ev.value} = graft.functions.BpeRuntime.encode($c, $ranks);"
    })

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)
}
