package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

/** Native signature expressions over a pre-hashed `array<long>` token/
  * shingle column. The base xxhash64 pass runs once per element; these
  * expressions then do all K permutations / 64 bit-folds in one codegen'd
  * loop — the interpreted HOF formulation re-walks the array per
  * permutation/bit and dominated the dedup bench.
  */
object HashExprs {

  /** Deterministic affine-permutation constants πᵢ(h) = aᵢ·h + bᵢ (Java
    * long wraparound is part of the permutation — each πᵢ is a bijection
    * because aᵢ is odd).
    */
  private[functions] val perms: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5EED5EEDL)
    Array.fill(64)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  def minhash(hashes: Column, k: Int): Column =
    Bridge.column(MinHashFromHashes(Bridge.expression(hashes), k))

  def simhash(hashes: Column): Column =
    Bridge.column(SimHashFromHashes(Bridge.expression(hashes)))

  def winnowMins(hashes: Column, w: Int): Column =
    Bridge.column(WinnowMins(Bridge.expression(hashes), w))

  def tokenGramHashes(toks: Column, n: Int, distinct: Boolean): Column =
    Bridge.column(TokenGramHashes(Bridge.expression(toks), n, distinct))

  def tokenGramKeys(toks: Column, n: Int): Column =
    Bridge.column(TokenGramKeys(Bridge.expression(toks), n))

  def tokenGramStrings(toks: Column, n: Int): Column =
    Bridge.column(TokenGramStrings(Bridge.expression(toks), n))

  def tokenBigramPairs(toks: Column): Column =
    Bridge.column(TokenBigramPairs(Bridge.expression(toks)))
}

/** K-slot MinHash signature from base shingle hashes: one pass, K affine
  * permutations per element, running minima.
  */
case class MinHashFromHashes(child: Expression, k: Int)
  extends UnaryExpression {
  require(k > 0 && k <= 64)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_from_hashes"

  private lazy val as: Array[Long] = HashExprs.perms.take(k).map(_._1)
  private lazy val bs: Array[Long] = HashExprs.perms.take(k).map(_._2)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = h * as(j) + bs(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val a = ctx.addReferenceObj("minhashA", as, "long[]")
      val b = ctx.addReferenceObj("minhashB", bs, "long[]")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = $h * $a[$j] + $b[$j];
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashFromHashes =
    copy(child = newChild)
}

/** 64-bit SimHash from term-frequency token hashes: bit j set when the
  * ±1 votes of the tokens' j-th hash bits sum positive.
  */
case class SimHashFromHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_from_hashes"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val cnt = new Array[Long](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < 64) {
        cnt(j) += ((h >>> j) & 1L) * 2 - 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (cnt(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |long[] $cnt = new long[64];
         |int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $cnt[$j] += (($h >>> $j) & 1L) * 2 - 1;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($cnt[$j] > 0) $out |= 1L << $j;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashFromHashes =
    copy(child = newChild)
}

/** Winnowing fingerprint set from base k-gram hashes in ONE pass: the min
  * of every w-window via a monotone-deque sliding minimum (O(n)), then
  * first-occurrence dedup — element for element what
  * `array_distinct(transform(sequence(1, greatest(n-w+1, 1)), j =>
  * array_min(slice(hs, j, w))))` produced. The interpreted HOF allocated a
  * w-slice array per window plus expression-tree walks per element — the
  * measured hotspot of the fingerprint chain and GC-bound rather than
  * CPU-parallel (guide §4: no non-codegen expressions in the hot path).
  */
case class WinnowMins(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0, "winnow window must be positive")

  // containsNull mirrors the HOF formulation it replaced (array_min is
  // nullable in general) so downstream schemas are unchanged; a null only
  // occurs for an EMPTY hash array, which the k-gram pass never emits
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "winnow_mins"

  override def nullSafeEval(input: Any): Any =
    WinnowMins.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowMins.compute($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowMins =
    copy(child = newChild)
}

/** Hashed word n-grams straight off the token array in ONE pass: for each
  * position, the xxhash64 (seed 42, Spark's) of the bytes of
  * `tok(i) ‖ ' ' ‖ … ‖ tok(i+n-1)` — byte-identical input to the
  * `xxhash64(array_join(slice(toks, i+1, n), " "))` chain it replaces, so
  * the hash VALUES are identical too. The HOF chain allocated a slice
  * array plus a joined string per gram and walked the lambda expression
  * tree per element — the dedup family's dominant map cost and GC-bound
  * rather than CPU-parallel (guide §4). `distinct` keeps the first
  * occurrence (array_distinct semantics); hashing then deduplicating
  * equals deduplicating strings then hashing, because equal strings hash
  * equal and distinct sets map through the same function.
  */
case class TokenGramHashes(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression {
  require(n > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_gram_hashes"

  override def nullSafeEval(input: Any): Any =
    TokenGramHashes.compute(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenGramHashes.compute($c, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): TokenGramHashes =
    copy(child = newChild)
}

object TokenGramHashes {
  private val Seed = 42L // Spark's xxhash64 default seed

  /** xxhash64 of each space-joined n-gram's UTF-8 bytes, one shared byte
    * buffer per row — no per-gram string or slice allocation.
    */
  def compute(toks: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val len = toks.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    // per-row reusable buffer sized to an upper bound of the longest gram
    var maxBytes = 0
    var i = 0
    while (i < len) {
      val b = toks.getUTF8String(i).numBytes()
      if (b > maxBytes) maxBytes = b
      i += 1
    }
    val buf = new Array[Byte](maxBytes * n + (n - 1))
    val out = new Array[Long](m)
    var g = 0
    while (g < m) {
      var pos = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val t = toks.getUTF8String(g + j)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes()
        j += 1
      }
      out(g) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          pos, Seed)
      g += 1
    }
    if (!distinct) return new GenericArrayData(out)
    // first-occurrence dedup, open-addressed (array_distinct semantics)
    var cap = 8
    while (cap < m * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val ded = new Array[Long](m)
    var k = 0
    var x = 0
    while (x < m) {
      val v = out(x)
      var idx = java.lang.Long.hashCode(v) & (cap - 1)
      var dup = false
      var probing = true
      while (probing) {
        if (!used(idx)) probing = false
        else if (table(idx) == v) { dup = true; probing = false }
        else idx = (idx + 1) & (cap - 1)
      }
      if (!dup) { used(idx) = true; table(idx) = v; ded(k) = v; k += 1 }
      x += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(ded, k))
  }
}

/** 128-bit gram keys for the substring-dedup family: per position, TWO
  * independently-seeded xxhash64s of the space-joined n-gram bytes as a
  * struct — the join/count key whose equality stands in for token-sequence
  * equality (tokens are whitespace-free, so the joined string is injective
  * on sequences; 128 bits keeps collisions negligible at 100 TB gram
  * volume). Replaces the per-gram slice + double array-hash chain — one
  * pass, one shared buffer, no per-gram allocation (guide §4).
  */
case class TokenGramKeys(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0)

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("g1", LongType, nullable = false),
      StructField("g2", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_gram_keys"

  override def nullSafeEval(input: Any): Any =
    TokenGramKeys.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenGramKeys.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): TokenGramKeys =
    copy(child = newChild)
}

object TokenGramKeys {
  private val Seed1 = 42L
  private val Seed2 = 0x9E3779B97F4A7C15L // independent second seed

  def compute(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    var maxBytes = 0
    var i = 0
    while (i < len) {
      val b = toks.getUTF8String(i).numBytes()
      if (b > maxBytes) maxBytes = b
      i += 1
    }
    val buf = new Array[Byte](maxBytes * n + (n - 1))
    val out = new Array[Any](m)
    var g = 0
    while (g < m) {
      var pos = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val t = toks.getUTF8String(g + j)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes()
        j += 1
      }
      val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, off, pos, Seed1)
      val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, off, pos, Seed2)
      out(g) = org.apache.spark.sql.catalyst.InternalRow(h1, h2)
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** Space-joined word n-gram STRINGS off the token array in ONE pass —
  * element for element what the interpreted
  * `filter(transform(toks, (_, i) => array_join(slice(toks, i+1, n), " ")),
  * (_, i) => i <= size(toks) - n)` chain produced (the doc_topk_ngrams
  * grain), without the per-gram slice array + lambda-tree walks (guide
  * §4). One shared byte buffer builds each gram; only the emitted
  * UTF8Strings allocate.
  */
case class TokenGramStrings(child: Expression, n: Int)
  extends UnaryExpression {
  require(n > 0)

  // containsNull mirrors the HOF formulation's static type (its array_join
  // lambda is statically nullable); elements are never null at runtime
  override def dataType: DataType =
    ArrayType(StringType, containsNull = true)
  override def prettyName: String = "token_gram_strings"

  override def nullSafeEval(input: Any): Any =
    TokenGramStrings.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenGramStrings.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): TokenGramStrings =
    copy(child = newChild)
}

object TokenGramStrings {
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    var maxBytes = 0
    var i = 0
    while (i < len) {
      val b = toks.getUTF8String(i).numBytes()
      if (b > maxBytes) maxBytes = b
      i += 1
    }
    val buf = new Array[Byte](maxBytes * n + (n - 1))
    val out = new Array[Any](m)
    var g = 0
    while (g < m) {
      var pos = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val t = toks.getUTF8String(g + j)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes()
        j += 1
      }
      out(g) = org.apache.spark.unsafe.types.UTF8String
        .fromBytes(java.util.Arrays.copyOf(buf, pos))
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** Adjacent-token pairs as an array<struct<prev,term>> in ONE pass — the
  * doc_bigram_lm grain, row for row what
  * `zip_with(slice(w, 1, n-1), slice(w, 2, n-1), (a, b) => struct(a, b))`
  * produced. The HOF allocated TWO sliced copies of the token array plus
  * a lambda-tree walk per element; this emits structs of UTF8String
  * VIEWS into the existing array — no byte copying at all (guide §4).
  */
case class TokenBigramPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("prev", StringType, nullable = true),
      StructField("term", StringType, nullable = true))),
    containsNull = false)
  override def prettyName: String = "token_bigram_pairs"

  override def nullSafeEval(input: Any): Any =
    TokenBigramPairs.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenBigramPairs.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenBigramPairs =
    copy(child = newChild)
}

object TokenBigramPairs {
  def compute(toks: ArrayData): ArrayData = {
    val len = toks.numElements()
    if (len < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - 1)
    var prev = toks.getUTF8String(0)
    var i = 1
    while (i < len) {
      val cur = toks.getUTF8String(i)
      out(i - 1) = org.apache.spark.sql.catalyst.InternalRow(prev, cur)
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }
}

object WinnowMins {
  /** Static single-call body shared by eval and the generated code. */
  def compute(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    // degenerate empty input: slice(hs, 1, w) of [] is [], array_min([])
    // is null — the HOF produced [null]
    if (n == 0) return new GenericArrayData(Array[Any](null))
    val m = math.max(n - w + 1, 1)
    val mins = new Array[Long](m)
    if (n <= w) {
      // single truncated window = min of everything
      var mn = hs.getLong(0)
      var i = 1
      while (i < n) { val h = hs.getLong(i); if (h < mn) mn = h; i += 1 }
      mins(0) = mn
    } else {
      // monotone deque of indices with increasing hash values
      val deque = new Array[Int](n)
      var head = 0
      var tail = 0
      var i = 0
      while (i < n) {
        val h = hs.getLong(i)
        while (tail > head && hs.getLong(deque(tail - 1)) >= h) tail -= 1
        deque(tail) = i
        tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) mins(i - w + 1) = hs.getLong(deque(head))
        i += 1
      }
    }
    // first-occurrence dedup (array_distinct semantics) via a small
    // open-addressed long set — no per-element boxing
    var cap = 8
    while (cap < m * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val out = new Array[Long](m)
    var k = 0
    var j = 0
    while (j < m) {
      val v = mins(j)
      var idx = java.lang.Long.hashCode(v) & (cap - 1)
      var dup = false
      var probing = true
      while (probing) {
        if (!used(idx)) probing = false
        else if (table(idx) == v) { dup = true; probing = false }
        else idx = (idx + 1) & (cap - 1)
      }
      if (!dup) {
        used(idx) = true
        table(idx) = v
        out(k) = v
        k += 1
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }
}
