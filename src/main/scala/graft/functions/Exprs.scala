package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compact native Catalyst expressions for the dedup/similarity hot
  * paths (SURVEY.md §2, q21–q26).
  *
  * Why these exist: the same semantics are expressible with
  * `functions._` alone, but only as enormous expression trees — a
  * 64-term `element_at` chain per dot product, a 64-wide
  * `aggregate(zip_with(...))` per SimHash, 4096 multiply terms per LSH
  * signature row. Those trees either blow janino's 64 KB method limit
  * (whole-stage codegen fails and the stage silently falls back to
  * interpreted mode) or run as CodegenFallback higher-order functions
  * with per-row array allocation. On the candidate-pair joins that is
  * the difference between a fused loop and an allocation storm —
  * round-3 bench spent 173 s of 205 s in these five queries.
  *
  * Each expression here generates (or evaluates) a small fixed loop
  * instead, and reproduces the reference semantics bit-for-bit:
  * md5-only hashing, left-to-right float summation (matching the
  * DuckDB oracles' explicit `v[1]*w[1] + v[2]*w[2] + …` chains), and
  * DuckDB `list_distinct` null handling (nulls removed).
  */
object Exprs {

  /** Kirsch–Mitzenmacher modulus, shared by every md5-seeded hash
    * chain below (and by the DuckDB oracles' replay of them). */
  private val KMP = 2147483647L // 2³¹ − 1

  /** ONE md5 over `s` → the Kirsch–Mitzenmacher seed pair, both
    * already reduced mod [[KMP]], packed `(g0 << 31) | h2` (each is
    * < 2³¹, so the pack is lossless and allocation-free). g0 comes
    * from digest bytes 8–15 (little-endian), h2 from bytes 0–7 — the
    * exact extraction the oracles replay with DuckDB's
    * `md5_number_lower/upper`. [[MinHashSig]] and [[TokenSigns]] both
    * walk g_i = (g0 + i·h2) mod p from this ONE definition, so the
    * two hash chains cannot silently diverge (round-12 ADVICE). */
  private def kmSeeds(md: MessageDigest, tmp: Array[Byte],
                      s: UTF8String): Long = {
    md.reset()
    md.update(s.getBytes)
    md.digest(tmp, 0, 16)
    var hi = 0L; var lo = 0L
    var b = 0
    while (b < 8) { hi |= (tmp(b) & 0xffL) << (8 * b); b += 1 }
    while (b < 16) { lo |= (tmp(b) & 0xffL) << (8 * (b - 8)); b += 1 }
    (java.lang.Long.remainderUnsigned(lo, KMP) << 31) |
      java.lang.Long.remainderUnsigned(hi, KMP)
  }

  /** Manual input-type validation shared by the expressions below.
    *
    * These expressions are SQL-exposed (see [[graft.GraftExtensions]]),
    * so they can be fed arbitrary column types; without a check,
    * `graft_dot` over the embeddings table's raw `array<float>` would
    * read 8-byte doubles over 4-byte float storage and return silently
    * wrong numbers. Spark 4 hides `ExpectsInputTypes`' AbstractDataType
    * behind private[sql], so the check is a hand-rolled match on the
    * children's resolved types, surfaced at analysis time. */
  private def expectTypes(name: String,
                          expected: Seq[(String, DataType => Boolean)],
                          actual: Seq[DataType]): TypeCheckResult = {
    // NullType (an untyped NULL literal, e.g. `graft_hamming(NULL, fp)`)
    // is always acceptable: nullSafeEval/nullable codegen short-circuits
    // to NULL before the typed code runs, matching built-ins' implicit
    // null-literal ergonomics.
    val bad = expected.zip(actual).collectFirst {
      case ((want, ok), got) if got != NullType && !ok(got) => (want, got)
    }
    bad match {
      case Some((want, got)) => TypeCheckResult.TypeCheckFailure(
        s"$name requires ${expected.map(_._1).mkString(", ")}; " +
          s"argument of type ${got.catalogString} does not match $want")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  private val isDoubleArray: DataType => Boolean = {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  private val isStringArray: DataType => Boolean = {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  private val isString: DataType => Boolean = _ == StringType

  /** Exact dot product of two array<double> columns — codegen'd loop,
    * left-to-right accumulation (bit-identical to an explicit
    * `a[1]*b[1] + a[2]*b[2] + …` chain in Spark or DuckDB). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName,
        Seq("array<double>" -> isDoubleArray, "array<double>" -> isDoubleArray),
        Seq(left.dataType, right.dataType))

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Distinct word n-gram (shingle) set of a token array. Replicates
    * the DuckDB oracle pipeline `list_distinct(list_transform(
    * range(1, greatest(len-(n-1), 1) + 1), i -> toks[i] || ' ' || …))`:
    * 1-based positions 1 .. max(len-(n-1), 1); a position whose window
    * runs past the end yields NULL in DuckDB, and `list_distinct`
    * removes NULLs — so short docs (<n tokens) produce an EMPTY set
    * here (not an error; fixes the round-3 ADVICE ANSI element_at
    * crash). A window containing a NULL token is skipped for the same
    * reason (`tok || ' ' || NULL → NULL`, removed by list_distinct) —
    * unreachable from split()-based call sites but live via SQL
    * `graft_shingles`, and it keeps the declared containsNull=false
    * contract honest. First-occurrence order, like array_distinct. */
  case class Shingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_shingles"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<string>" -> isStringArray),
        Seq(child.dataType))

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val toks = in.asInstanceOf[ArrayData]
      val len = toks.numElements()
      val m = math.max(len - (n - 1), 1)
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var i = 0
      while (i < m) {
        if (i + n <= len) {
          val parts = new Array[UTF8String](2 * n - 1)
          var nullTok = false
          var j = 0
          while (j < n) {
            if (j > 0) parts(2 * j - 1) = Shingles.Space
            if (toks.isNullAt(i + j)) nullTok = true
            else parts(2 * j) = toks.getUTF8String(i + j)
            j += 1
          }
          if (!nullTok) seen.add(UTF8String.concat(parts: _*))
        }
        i += 1
      }
      val out = new Array[AnyRef](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object Shingles { private[Exprs] val Space = UTF8String.fromString(" ") }

  /** Word n-grams WITH multiplicity (the bag [[Shingles]] is the set
    * of): positions 1 .. len−(n−1), in order, duplicates kept — what a
    * bag-of-features model (q110's DSIR buckets) counts, where the
    * dedup in [[Shingles]] would silently flatten every repeated
    * phrase to weight 1. Same NULL/short-doc laws as Shingles: < n
    * tokens → empty array, a window containing a NULL token is
    * skipped (keeps containsNull=false honest). Native one-pass
    * kernel for winnow's reason: the `transform(sequence(...))` HOF
    * form evaluates interpretively per ELEMENT and re-evaluates the
    * un-materialized `split` child per access — measured O(len²)
    * per doc (3.4 s vs 0.3 s at the bench SF). */
  case class Ngrams(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_ngrams"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<string>" -> isStringArray),
        Seq(child.dataType))

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val toks = in.asInstanceOf[ArrayData]
      val len = toks.numElements()
      val m = len - (n - 1)
      val out = new java.util.ArrayList[AnyRef](math.max(m, 0))
      var i = 0
      while (i < m) {
        val parts = new Array[UTF8String](2 * n - 1)
        var nullTok = false
        var j = 0
        while (j < n) {
          if (j > 0) parts(2 * j - 1) = Shingles.Space
          if (toks.isNullAt(i + j)) nullTok = true
          else parts(2 * j) = toks.getUTF8String(i + j)
          j += 1
        }
        if (!nullTok) out.add(UTF8String.concat(parts: _*))
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** k Kirsch-Mitzenmacher min-hashes of a shingle set: ONE md5 per
    * shingle (not k) → the digest's two 64-bit halves, read
    * little-endian exactly like DuckDB's `md5_number_upper` (first 8
    * bytes) / `md5_number_lower` (last 8), reduced mod p = 2³¹−1; hash
    * i of shingle s is then gᵢ(s) = (h₁ + i·h₂) mod p (Kirsch &
    * Mitzenmacher 2006: two base hashes generate k combined functions
    * with the same minhash guarantees as k independent ones). Output
    * element i = minₛ gᵢ(s), a LongType array. All intermediate values
    * stay below 2³⁶, so DuckDB's checked UBIGINT arithmetic and JVM
    * signed longs agree exactly — the oracle replicates every value
    * bit-for-bit with no wrap-around anywhere.
    *
    * This replaced the k-salted-md5 scheme (element i = min md5("i|"+s)
    * hex) in round 6: the signature pass was k× md5-bound — at 10×
    * scale ~40M digests; KM computes one digest per shingle. Empty
    * input → k NULLs (list_min([]) = NULL); NULL shingles are skipped
    * (md5_number_*(NULL) = NULL, list_min ignores NULLs). */
  case class MinHashSig(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def prettyName: String = "graft_minhash"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<string>" -> isStringArray),
        Seq(child.dataType))

    @transient private lazy val md = MessageDigest.getInstance("MD5")

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val sh = in.asInstanceOf[ArrayData]
      val nSh = sh.numElements()
      val mins = new Array[Long](k)
      java.util.Arrays.fill(mins, Long.MaxValue)
      var any = false
      val tmp = new Array[Byte](16)
      var s = 0
      while (s < nSh) {
        if (!sh.isNullAt(s)) {
          any = true
          val gh = kmSeeds(md, tmp, sh.getUTF8String(s))
          val h2 = gh & 0x7fffffffL
          // g walks (h1 + i·h2) mod p incrementally: h1, h2 < p, so one
          // conditional subtract per step is a full reduction
          var g = gh >>> 31
          var i = 0
          while (i < k) {
            if (g < mins(i)) mins(i) = g
            g += h2; if (g >= KMP) g -= KMP
            i += 1
          }
        }
        s += 1
      }
      val out = new Array[AnyRef](k)
      var i = 0
      while (i < k) {
        out(i) = if (any) java.lang.Long.valueOf(mins(i)) else null
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit SimHash of a token array as a '0'/'1' string. Per token
    * occurrence: bit i of md5(token) (MSB-first over the 16 digest
    * bytes — identical to "bit (3 - i%4) of hex digit i/4") contributes
    * +1/-1 to accumulator i; output bit = sign (s >= 0 → '1'). Integer
    * accumulation → order-independent → bit-exact oracle parity. NULL
    * tokens contribute nothing (`md5(NULL) = NULL`; DuckDB `list_sum`
    * ignores NULLs) — unreachable via split(), live via SQL. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_simhash"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<string>" -> isStringArray),
        Seq(child.dataType))

    @transient private lazy val md = MessageDigest.getInstance("MD5")

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val toks = in.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val acc = new Array[Int](64)
      var t = 0
      while (t < n) {
        if (!toks.isNullAt(t)) {
          md.reset()
          val digest = md.digest(toks.getUTF8String(t).getBytes)
          var i = 0
          while (i < 64) {
            val bit = (digest(i >> 3) >> (7 - (i & 7))) & 1
            acc(i) += (bit << 1) - 1
            i += 1
          }
        }
        t += 1
      }
      val out = new Array[Byte](64)
      var i = 0
      while (i < 64) {
        out(i) = if (acc(i) >= 0) '1' else '0'
        i += 1
      }
      UTF8String.fromBytes(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Hamming distance between two equal-length ASCII bitstrings —
    * codegen'd byte loop (the strings are '0'/'1' so bytes == chars). */
  case class HammingDist(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_hamming"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("string" -> isString, "string" -> isString),
        Seq(left.dataType, right.dataType))

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[UTF8String]
      val y = b.asInstanceOf[UTF8String]
      val n = math.min(x.numBytes(), y.numBytes())
      var c = 0
      var i = 0
      while (i < n) { if (x.getByte(i) != y.getByte(i)) c += 1; i += 1 }
      c
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val c = ctx.freshName("c")
        s"""
           |int $n = java.lang.Math.min($a.numBytes(), $b.numBytes());
           |int $c = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.getByte($i) != $b.getByte($i)) $c++;
           |}
           |${ev.value} = $c;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Sign-random-projection LSH bucket keys for one vector: for each
    * table t, "t|" ++ one '0'/'1' char per plane, bit = (v · w ≥ 0)
    * with the dot accumulated left-to-right (bit-identical to the
    * oracle's explicit chain). `planes` is the deterministic ±1 matrix
    * (row t*bits+p) — see Similarity.planeSigns. */
  case class LshBuckets(child: Expression, planes: Array[Array[Double]],
                        tables: Int, bits: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_lsh_buckets"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<double>" -> isDoubleArray),
        Seq(child.dataType))

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val v = in.asInstanceOf[ArrayData]
      val dim = v.numElements()
      val vals = new Array[Double](dim)
      var d = 0
      while (d < dim) { vals(d) = v.getDouble(d); d += 1 }
      val out = new Array[AnyRef](tables)
      var t = 0
      while (t < tables) {
        val sb = new java.lang.StringBuilder(bits + 4)
        sb.append(t).append('|')
        var p = 0
        while (p < bits) {
          val w = planes(t * bits + p)
          val n = math.min(dim, w.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += vals(i) * w(i); i += 1 }
          sb.append(if (s >= 0) '1' else '0')
          p += 1
        }
        out(t) = UTF8String.fromString(sb.toString)
        t += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One-pass repetition statistics of a token array for q41: a struct
    * of (top_tok_frac, top_2gram_frac, dup_2gram_frac).
    *
    * The same semantics in pure `functions._` need a nested
    * higher-order mode search — `array_max(transform(array_distinct(x),
    * u -> size(filter(x, _ === u))))` — which is O(distinct·len) per
    * document in INTERPRETED CodegenFallback trees with an array
    * allocation per lambda application (benched 3.6 s of the sf0.1
    * suite's 52 s, the slowest query). Two hash-map passes here do it
    * in O(len), 9× faster.
    *
    * Parity contract (mirrors the q41 DuckDB oracle exactly):
    * denominators are the FULL array length for tokens and the count of
    * adjacent both-non-null pairs for 2-grams; NULL tokens are never
    * counted and never form a gram (DuckDB `list_distinct` removes
    * NULLs; `x || ' ' || NULL` → NULL, filtered); an all-NULL token
    * array yields NULL top_tok_frac (list_max over an empty list);
    * empty inputs yield 0.0 (the oracle's CASE guards). Every fraction
    * is one IEEE division of two exact ints — bit-identical. */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("top_tok_frac", DoubleType, nullable = true),
      StructField("top_2gram_frac", DoubleType, nullable = false),
      StructField("dup_2gram_frac", DoubleType, nullable = false)))
    override def prettyName: String = "graft_repstats"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<string>" -> isStringArray),
        Seq(child.dataType))

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val tk = in.asInstanceOf[ArrayData]
      val n = tk.numElements()
      val toks = new Array[UTF8String](n)
      val tokCounts = new java.util.HashMap[UTF8String, Integer]()
      var topTok = 0
      var i = 0
      while (i < n) {
        if (!tk.isNullAt(i)) {
          val t = tk.getUTF8String(i)
          toks(i) = t
          val c = tokCounts.merge(t, 1, (a: Integer, b: Integer) => a + b)
          if (c > topTok) topTok = c
        }
        i += 1
      }
      val gramCounts = new java.util.HashMap[UTF8String, Integer]()
      var nGram = 0
      var topGram = 0
      i = 0
      while (i < n - 1) {
        if (toks(i) != null && toks(i + 1) != null) {
          val g = UTF8String.concat(toks(i), RepetitionStats.Space, toks(i + 1))
          nGram += 1
          val c = gramCounts.merge(g, 1, (a: Integer, b: Integer) => a + b)
          if (c > topGram) topGram = c
        }
        i += 1
      }
      val topTokFrac: Any =
        if (n == 0) java.lang.Double.valueOf(0.0)
        else if (tokCounts.isEmpty) null // all-NULL tokens: list_max([]) is NULL
        else java.lang.Double.valueOf(topTok.toDouble / n.toDouble)
      val topGramFrac =
        if (nGram > 0) topGram.toDouble / nGram.toDouble else 0.0
      val dupGramFrac =
        if (nGram > 0) (nGram - gramCounts.size()).toDouble / nGram.toDouble else 0.0
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](topTokFrac, topGramFrac, dupGramFrac))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object RepetitionStats { private val Space = UTF8String.fromString(" ") }

  /** Winnowing fingerprint selection (q62) in one pass: positional
    * k-gram md5s (duplicates kept), sliding-window minima via a
    * monotonic deque (O(m), not the O(m·w) slice/array_min HOF tree),
    * distinct selected hashes in first-occurrence order. Measured at
    * the 10× probe: 39 s (HOF form) → 1.6 s — with two buried costs
    * mattering more than the algorithm: per-byte `f"%02x"` hex
    * encoding (a Formatter parse per call, ~32M of them) and a per-row
    * MessageDigest provider lookup; a char-table encoder and the
    * task-lazy digest the sibling kernels use removed a further 10×
    * after the deque landed. Minima are compared on the RAW 16-byte
    * digests — lowercase-hex encoding is order-preserving, so unsigned
    * byte order ≡ the oracle's hex-string order — and only the
    * selected digests are hex-encoded. A k-gram containing a NULL
    * token is dropped from the hash sequence (the [[Shingles]]
    * convention; unreachable from split() call sites, live via SQL). */
  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
      extends UnaryExpression with CodegenFallback {
    require(k >= 1 && w >= 1, "winnowing needs k >= 1 and w >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_winnow"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<string>" -> isStringArray),
        Seq(child.dataType))

    // one digest per task like MinHashSig/SimHash64 — digest() resets
    // it after every call, and getInstance is a provider lookup that
    // must not sit on the per-row path
    @transient private lazy val md = MessageDigest.getInstance("MD5")

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val toks = in.asInstanceOf[ArrayData]
      val len = toks.numElements()
      var hashes = new Array[Array[Byte]](math.max(len - (k - 1), 0))
      var m = 0
      var i = 0
      while (i + k <= len) {
        var nullTok = false
        var j = 0
        while (j < k && !nullTok) {
          if (toks.isNullAt(i + j)) nullTok = true
          j += 1
        }
        if (!nullTok) {
          md.reset()
          j = 0
          while (j < k) {
            if (j > 0) md.update(' '.toByte)
            md.update(toks.getUTF8String(i + j).getBytes)
            j += 1
          }
          hashes(m) = md.digest()
          m += 1
        }
        i += 1
      }
      def cmp(a: Array[Byte], b: Array[Byte]): Int = {
        var p = 0
        while (p < 16) {
          val d = (a(p) & 0xff) - (b(p) & 0xff)
          if (d != 0) return d
          p += 1
        }
        0
      }
      val seen = new java.util.LinkedHashSet[String]()
      def select(h: Array[Byte]): Unit = seen.add(graft.Exact.hex(h))
      if (m > 0 && m < w) {
        var best = hashes(0)
        var q = 1
        while (q < m) { if (cmp(hashes(q), best) < 0) best = hashes(q); q += 1 }
        select(best)
      } else if (m >= w) {
        // monotonic deque of candidate indices, increasing hash order
        val deque = new Array[Int](m)
        var head = 0
        var tail = 0 // exclusive
        var q = 0
        while (q < m) {
          while (tail > head && cmp(hashes(deque(tail - 1)), hashes(q)) >= 0)
            tail -= 1
          deque(tail) = q; tail += 1
          if (deque(head) <= q - w) head += 1
          if (q >= w - 1) select(hashes(deque(head)))
          q += 1
        }
      }
      val out = new Array[AnyRef](seen.size)
      val it = seen.iterator()
      var o = 0
      while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Membership probe of a string column against a serialized
    * `org.apache.spark.util.sketch.BloomFilter` — the map-side
    * prefilter for decontamination at reference-set sizes where a
    * broadcast semi-join stops being an option (the filter is ~1.2
    * bytes/item at 1% fpp vs ~40 for a broadcast digest row, and OR'd
    * bitsets merge order-independently). The sketch travels as plain
    * bytes (task-serializable) and is deserialized once per executor
    * via the transient lazy; codegen probes through a reference to
    * this expression instance, so the hot path stays inside
    * whole-stage codegen with zero per-row allocation.
    *
    * `mightContainBinary(utf8.getBytes)` sees exactly the bytes
    * `putString`/`put(String)` hashed at build time (both reduce to
    * the UTF-8 encoding), so a filter built with
    * `DataFrameStatFunctions.bloomFilter` probes correctly here.
    * One-sided error only: a TRUE may be false-positive (callers must
    * exact-verify survivors), a FALSE is definitive — the prefilter
    * can drop rows early but never drops a true match. */
  /** Content-equality wrapper for a serialized sketch payload. A bare
    * `Array[Byte]` in an expression's constructor compares by
    * REFERENCE, so two structurally identical probes never canonicalize
    * equal (breaking common-subexpression elimination), and the case
    * class's toString would dump the whole serialized sketch into
    * explain/tree output (megabytes at production filter sizes). This
    * wrapper compares by content (hash cached — computed once, not per
    * canonicalization probe) and renders as a size+hash stub. */
  final class SketchBytes(val bytes: Array[Byte]) extends Serializable {
    override def equals(o: Any): Boolean = o match {
      case s: SketchBytes => (s eq this) || java.util.Arrays.equals(bytes, s.bytes)
      case _ => false
    }
    @transient private lazy val hc = java.util.Arrays.hashCode(bytes)
    override def hashCode: Int = hc
    override def toString: String =
      f"sketch[${bytes.length}B,h=$hashCode%08x]"
  }

  case class BloomMightContain(child: Expression, sketch: SketchBytes)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bloom_might_contain"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("string" -> isString), Seq(child.dataType))

    @transient private lazy val filter =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(sketch.bytes))

    def mightContain(s: UTF8String): Boolean =
      filter.mightContainBinary(s.getBytes)

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any =
      mightContain(in.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomProbe", this)
      nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.mightContain($in);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** q92: deterministic TEXT EMBEDDING — the feature-hashing signed
    * random projection (Weinberger et al. 2009's hashing trick ×
    * Achlioptas-style ±1 projections, both public literature): the
    * whole document's `dim`-dimensional bag-of-words embedding in ONE
    * per-row pass. Each token contributes ±1 per dimension; the sign
    * chain is the SAME Kirsch-Mitzenmacher walk MinHashSig uses (one
    * md5 per token → h1, h2 mod p=2³¹−1 → g_d = (h1 + d·h2) mod p,
    * sign = g_d's parity), so the DuckDB oracle replays it with the
    * md5_number_lower/upper idiom already proven bit-exact.
    *
    * All-integer accumulation (array<long>) — no float summation
    * order to diverge; the embedding is exactly reproducible on any
    * engine, which is what makes downstream semantic dedup / ANN over
    * TEXT corpora oracle-checkable end to end. */
  case class TokenSigns(child: Expression, dim: Int)
      extends UnaryExpression with CodegenFallback {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_textembed"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<string>" -> isStringArray),
        Seq(child.dataType))

    @transient private lazy val md = MessageDigest.getInstance("MD5")

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val toks = in.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val acc = new Array[Long](dim)
      val tmp = new Array[Byte](16)
      var s = 0
      while (s < n) {
        if (!toks.isNullAt(s)) {
          val gh = kmSeeds(md, tmp, toks.getUTF8String(s))
          val h2 = gh & 0x7fffffffL
          var g = gh >>> 31
          var d = 0
          while (d < dim) {
            acc(d) += (if ((g & 1L) == 0L) 1L else -1L)
            g += h2; if (g >= KMP) g -= KMP
            d += 1
          }
        }
        s += 1
      }
      val out = new Array[AnyRef](dim)
      var d = 0
      while (d < dim) { out(d) = java.lang.Long.valueOf(acc(d)); d += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Best-fit-decreasing bin packing over ONE bounded shard (q119).
    * Input: array<struct<n: bigint, doc_id: bigint>> — the shard's
    * documents with token counts, ANY order (collect_list order is
    * nondeterministic; the kernel imposes its own). Deterministic
    * placement spec, replayed verbatim by the DuckDB oracle's
    * recursive CTE:
    *
    *   1. DECREASING: process docs by (n desc, doc_id asc).
    *   2. BEST FIT: place each doc in the bin with the SMALLEST
    *      remaining capacity that still fits (rem >= n); among equal
    *      remainders the lowest bin id wins.
    *   3. No bin fits → open a new bin with rem = budget − n. An
    *      oversize doc (n > budget) thus monopolizes a bin whose rem
    *      goes negative and never fits anything else — the writer
    *      splits it (q40's straddler note); it is never silently
    *      truncated or dropped.
    *
    * Output: array<struct<doc_id, n, bin>> in placement order. The
    * shard is BOUNDED by construction (q72's doc_id-range sharding),
    * so the O(m·bins) scan is constant-bounded per row and the
    * collect_list feeding it can never blow an agg buffer. */
  case class BfdPack(child: Expression, budget: Long)
      extends UnaryExpression with CodegenFallback {
    require(budget > 0, s"budget must be positive, got $budget")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("bin", IntegerType, nullable = false))), containsNull = false)
    override def prettyName: String = "graft_bfd_pack"

    private val isPackInput: DataType => Boolean = {
      case ArrayType(StructType(fs), _) =>
        fs.length == 2 && fs(0).dataType == LongType && fs(1).dataType == LongType
      case _ => false
    }
    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName,
        Seq("array<struct<bigint,bigint>>" -> isPackInput), Seq(child.dataType))

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val arr = in.asInstanceOf[ArrayData]
      val m = arr.numElements()
      val ns = new Array[Long](m)
      val ids = new Array[Long](m)
      var i = 0
      while (i < m) {
        val row = arr.getStruct(i, 2)
        ns(i) = row.getLong(0)
        ids(i) = row.getLong(1)
        i += 1
      }
      val order = Array.range(0, m)
        .sortBy(j => (-ns(j), ids(j)))(Ordering.Tuple2(Ordering.Long, Ordering.Long))
      val rem = new java.util.ArrayList[java.lang.Long]()
      val out = new Array[Any](m)
      var k = 0
      while (k < m) {
        val j = order(k)
        var best = -1
        var bestRem = Long.MaxValue
        var b = 0
        while (b < rem.size()) {
          val r = rem.get(b)
          if (r >= ns(j) && r < bestRem) { best = b; bestRem = r }
          b += 1
        }
        val bin =
          if (best >= 0) { rem.set(best, bestRem - ns(j)); best }
          else { rem.add(budget - ns(j)); rem.size() - 1 }
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](ids(j), ns(j), bin))
        k += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** A zero or NaN centroid norm scores its cell NaN, which the strict
    * `>` argmax silently never selects — refused, naming the cell. */
  private def requirePositiveNorms(name: String, cellIds: Array[Long],
                                   cnorms: Array[Double]): Unit = {
    val bad = cnorms.indexWhere(n => !(n > 0))
    require(bad < 0, s"$name: centroid of cell ${cellIds(bad)} has norm " +
      s"${cnorms(bad)} — it would never be selected")
  }

  /** Spherical-quantizer cell ARGMAX for one vector — [[PqEncodeVec]]'s
    * cell-assignment stage as a standalone kernel (r20, verdict #4):
    * the non-encode `assignCells` users (the semantic-dedup family,
    * q46's IVF, the semantic stores, the Lloyd training loop's
    * assignment pass) paid an n·c broadcast-join + max(struct) partial
    * aggregation — one Exchange of aggregation buffers per assignment
    * — for what is a pure per-row argmax over constant centroids. This
    * expression is that argmax as a ZERO-SHUFFLE map riding the scan.
    *
    * Bit-stability contract (the oracle replays the same argmax):
    * score_i = dot(v, c_i)/cnorm_i with ascending-index accumulation
    * (seedCellScores' per-element chains; cnorms precomputed with the
    * same dotArr loops); argmax keeps the FIRST maximum (strict
    * primitive `>`), which for finite scores equals BOTH prior shapes
    * — the literal branch's array_position(array_max) and the
    * broadcast branch's max(struct(score, -cell, cell)) — because
    * cells are required sorted ascending by id (ties break to the
    * smaller cell id). */
  case class CellArgmax(child: Expression,
                        cellIds: Array[Long],
                        cents: Array[Array[Double]],
                        cnorms: Array[Double])
      extends UnaryExpression with CodegenFallback {
    require(cellIds.nonEmpty && cellIds.length == cents.length &&
      cnorms.length == cents.length,
      "graft_cell_argmax: centroid tables must be non-empty and aligned")
    require(cellIds.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
      "graft_cell_argmax: cells must be sorted ascending by id (the " +
        "tie-break contract)")
    requirePositiveNorms("graft_cell_argmax", cellIds, cnorms)

    override def dataType: DataType = LongType
    override def prettyName: String = "graft_cell_argmax"
    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<double>" -> isDoubleArray),
        Seq(child.dataType))
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(in: Any): Any = {
      val ad = in.asInstanceOf[ArrayData]
      val nc = cents.length
      val nIn = ad.numElements()
      var best = Double.NegativeInfinity
      var bi = 0
      var i = 0
      while (i < nc) {
        val c = cents(i)
        val dim = math.min(c.length, nIn) // DotProduct truncates to the shorter operand
        var s = 0.0
        var t = 0
        while (t < dim) { s += ad.getDouble(t) * c(t); t += 1 }
        val sc = s / cnorms(i)
        if (sc > best) { best = sc; bi = i }
        i += 1
      }
      cellIds(bi): java.lang.Long
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One-pass IVF-PQ encoder (r19, guide §2.4/§4): cell assignment +
    * per-subspace code argmin + |v̂|² (+ exact quantization error) for
    * ONE vector, all quantizer tables riding as expression constants.
    *
    * Why: the `functions._` composition of the same semantics
    * (explode to m subspaces → broadcast-join the m·ks codebook →
    * min(struct) partial agg keyed (vec_id, cell)) materializes
    * m·ks = 128 scored rows per vector and pays one Exchange of agg
    * buffers per corpus encode — per encode instance, across the
    * seventeen ANN-family queries that encode. This kernel is the
    * same arithmetic as one fused per-row loop: the encode becomes a
    * ZERO-SHUFFLE map riding the scan (q81's graft_bpe story on the
    * semantic leg), and the 128-row blowup never exists.
    *
    * Bit-stability contract (the oracle replays every step in SQL):
    *  - cell scores: dot(v, c_i)/√(c_i·c_i), ascending-index loops —
    *    exactly `seedCellScores`' per-element chains; argmax keeps the
    *    FIRST maximum (strict primitive `>`), which equals the literal
    *    branch's array_position(array_max) for finite scores and the
    *    broadcast branch's max(struct(score, -cell, cell)) tie-break
    *    (cents are required sorted by cell id);
    *  - code argmin: err = (c2 − 2.0·dot(sub, cb)) + 2.0·ccf[s·ks+code]
    *    (residual) / c2 − 2.0·dot(sub, cb) (raw) — the same left-assoc
    *    shape as the expression chain; initialized from code 0 and
    *    compared with java.lang.Double.compare, so ties keep the
    *    smaller code and NaN sorts greatest — min(struct(err, code))'s
    *    total order exactly;
    *  - qerr: ((eb + err_0) + err_1) + … in subspace order, eb =
    *    (v·v − 2.0·v·c) + c·c (residual) / v·v (raw);
    *  - vn2: left-assoc lookup chains in subspace order; residual =
    *    (c2c + 2.0·Σccf) + Σc2 — `pqLookupSum`'s association.
    * All constants (cnorms, c2c, ccf) are precomputed with the same
    * ascending-index loop ([[graft.operators.Similarity]]'s dotArr),
    * so where they are computed cannot change their bits. */
  case class PqEncodeVec(child: Expression,
                         cellIds: Array[Long],
                         cents: Array[Array[Double]],
                         cnorms: Array[Double],
                         c2c: Array[Double],
                         bookCv: Array[Array[Double]],
                         bookC2: Array[Double],
                         ccf: Array[Array[Double]],
                         m: Int, ks: Int, dsub: Int,
                         residual: Boolean, withError: Boolean)
      extends UnaryExpression with CodegenFallback {
    require(cellIds.nonEmpty && cellIds.length == cents.length &&
      cnorms.length == cents.length && c2c.length == cents.length,
      "graft_pq_encode: centroid tables must be non-empty and aligned")
    require(cellIds.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
      "graft_pq_encode: cells must be sorted ascending by id (the " +
        "tie-break contract)")
    requirePositiveNorms("graft_pq_encode", cellIds, cnorms)
    require(bookCv.length == m * ks && bookC2.length == m * ks,
      s"graft_pq_encode: codebook must carry m*ks=${m * ks} entries")
    require(!residual || ccf.length == cents.length,
      "graft_pq_encode: residual mode needs one ccf row per cell")

    override def dataType: DataType = StructType(
      Seq(StructField("cell", LongType, nullable = false),
        StructField("codes", ArrayType(IntegerType, containsNull = false),
          nullable = false),
        StructField("vn2", DoubleType, nullable = false)) ++
        (if (withError) Seq(StructField("qerr", DoubleType, nullable = false))
         else Nil))
    override def prettyName: String = "graft_pq_encode"

    override def checkInputDataTypes(): TypeCheckResult =
      expectTypes(prettyName, Seq("array<double>" -> isDoubleArray),
        Seq(child.dataType))

    override def nullIntolerant: Boolean = true
    override def nullSafeEval(in: Any): Any = {
      val ad = in.asInstanceOf[ArrayData]
      val dim = m * dsub
      val v = new Array[Double](dim)
      var d = 0
      val nIn = math.min(dim, ad.numElements())
      while (d < nIn) { v(d) = ad.getDouble(d); d += 1 }
      // cell assignment: first max of dot(v, c_i)/|c_i|
      val nc = cents.length
      var best = Double.NegativeInfinity
      var bi = 0
      var i = 0
      while (i < nc) {
        val c = cents(i)
        var s = 0.0
        var t = 0
        while (t < dim) { s += v(t) * c(t); t += 1 }
        val sc = s / cnorms(i)
        if (sc > best) { best = sc; bi = i }
        i += 1
      }
      // eb (withError): |v|² raw, |v − c|² expanded residual
      var q = 0.0
      if (withError) {
        var vv = 0.0
        var t = 0
        while (t < dim) { vv += v(t) * v(t); t += 1 }
        if (residual) {
          val c = cents(bi)
          var vc = 0.0
          t = 0
          while (t < dim) { vc += v(t) * c(t); t += 1 }
          q = (vv - 2.0 * vc) + c2c(bi)
        } else q = vv
      }
      // per-subspace argmin (code 0 seeds; Double.compare = the
      // min(struct) total order, ties keep the smaller code)
      val cellCcf = if (residual) ccf(bi) else null
      val codes = new Array[Int](m)
      var s = 0
      while (s < m) {
        val off = s * dsub
        var bestE = 0.0
        var bc = 0
        var code = 0
        while (code < ks) {
          val j = s * ks + code
          val cb = bookCv(j)
          var ds = 0.0
          var t = 0
          while (t < dsub) { ds += v(off + t) * cb(t); t += 1 }
          var er = bookC2(j) - 2.0 * ds
          if (residual) er = er + 2.0 * cellCcf(j)
          if (code == 0 || java.lang.Double.compare(er, bestE) < 0) {
            bestE = er; bc = code
          }
          code += 1
        }
        codes(s) = bc
        if (withError) q = q + bestE
        s += 1
      }
      // vn2 lookup chains (left-assoc in subspace order)
      var sumC2 = 0.0
      s = 0
      while (s < m) { sumC2 = sumC2 + bookC2(s * ks + codes(s)); s += 1 }
      val vn2 =
        if (!residual) sumC2
        else {
          var sumCcf = 0.0
          s = 0
          while (s < m) { sumCcf = sumCcf + cellCcf(s * ks + codes(s)); s += 1 }
          (c2c(bi) + 2.0 * sumCcf) + sumC2
        }
      val vals: Array[Any] =
        if (withError) Array(cellIds(bi), new GenericArrayData(codes), vn2, q)
        else Array(cellIds(bi), new GenericArrayData(codes), vn2)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ----- Column-level wrappers ----------------------------------------

  def dot(a: Column, b: Column): Column =
    GraftShim.column(DotProduct(
      GraftShim.expression(a), GraftShim.expression(b)))

  def shingles(tokens: Column, n: Int): Column =
    GraftShim.column(Shingles(GraftShim.expression(tokens), n))

  def ngrams(tokens: Column, n: Int): Column =
    GraftShim.column(Ngrams(GraftShim.expression(tokens), n))

  def minhashSig(shingles: Column, k: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(shingles), k))

  def simhash64(tokens: Column): Column =
    GraftShim.column(SimHash64(GraftShim.expression(tokens)))

  def hammingDist(a: Column, b: Column): Column =
    GraftShim.column(HammingDist(
      GraftShim.expression(a), GraftShim.expression(b)))

  def lshBuckets(v: Column, planes: Array[Array[Double]],
                 tables: Int, bits: Int): Column =
    GraftShim.column(LshBuckets(
      GraftShim.expression(v), planes, tables, bits))

  def repetitionStats(tokens: Column): Column =
    GraftShim.column(RepetitionStats(GraftShim.expression(tokens)))

  def winnow(tokens: Column, k: Int, w: Int): Column =
    GraftShim.column(WinnowFingerprints(GraftShim.expression(tokens), k, w))

  def tokenSigns(tokens: Column, dim: Int): Column =
    GraftShim.column(TokenSigns(GraftShim.expression(tokens), dim))

  def bfdPack(shardDocs: Column, budget: Long): Column =
    GraftShim.column(BfdPack(GraftShim.expression(shardDocs), budget))

  def cellArgmax(v: Column, cellIds: Array[Long],
                 cents: Array[Array[Double]],
                 cnorms: Array[Double]): Column =
    GraftShim.column(CellArgmax(GraftShim.expression(v), cellIds, cents, cnorms))

  def pqEncodeVec(v: Column, cellIds: Array[Long],
                  cents: Array[Array[Double]], cnorms: Array[Double],
                  c2c: Array[Double], bookCv: Array[Array[Double]],
                  bookC2: Array[Double], ccf: Array[Array[Double]],
                  m: Int, ks: Int, dsub: Int,
                  residual: Boolean, withError: Boolean): Column =
    GraftShim.column(PqEncodeVec(GraftShim.expression(v), cellIds, cents,
      cnorms, c2c, bookCv, bookC2, ccf, m, ks, dsub, residual, withError))

  def bloomMightContain(c: Column,
                        bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    GraftShim.column(BloomMightContain(
      GraftShim.expression(c), new SketchBytes(out.toByteArray)))
  }
}
