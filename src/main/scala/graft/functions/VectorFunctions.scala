package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.graft.bridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/fingerprint hot paths.
  * These are custom `Expression`s (not Scala UDFs): null-safe, typed,
  * and inside whole-stage codegen — the preference order from
  * SURVEY.md §7.1 for capabilities Spark's builtin library lacks (the
  * reference itself has no function surface, `RPC/RPC/RPC.cs:20-28`).
  *
  * Two shared pieces carry most of them:
  *  - The codegen bridge ([[UnaryEvalBridge]], [[BinaryEvalBridge]]):
  *    Spark generates the children's code and null checks, and the
  *    body is the expression's own interpreted `nullSafeEval`, called
  *    through the expression as a reference object. Its result is cast
  *    with `CodeGenerator.boxedType(dataType)`; a null result sets
  *    `isNull` only when the expression is nullable, because a
  *    non-nullable expression's `isNull` is the literal `false`. An
  *    expression whose per-row loop is worth inlining writes its own
  *    `doGenCode` instead ([[CosineSimilarity]], [[SimHash64]]).
  *  - The capped-bucket core ([[BucketGenerator]]) of the six in-bucket
  *    pair generators: fewer than 2 postings give an empty array and a
  *    null posting gives null; the postings are sorted by id (stably)
  *    and cut at the `maxBucket` smallest ids, so the cap does not
  *    depend on the bucket's layout; pairs are emitted as
  *    `id_a < id_b`. Each generator adds only its posting decode and
  *    its pair loop.
  */
object VectorFunctions {

  /** The codegen bridge's call: `nullSafeEval(args)` on this expression
    * as a reference object, its result cast into `ev.value`. */
  trait EvalBridge extends Expression {
    protected final def evalCall(ctx: CodegenContext, ev: ExprCode,
        args: String): String = {
      val ref = ctx.addReferenceObj(nodeName, this, getClass.getName)
      val cast = s"(${CodeGenerator.boxedType(dataType)})"
      if (!nullable) s"${ev.value} = $cast $ref.nullSafeEval($args);"
      else {
        val r = ctx.freshName("r")
        s"""Object $r = $ref.nullSafeEval($args);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $cast $r; }""".stripMargin
      }
    }
  }

  /** The codegen bridge for one child. */
  trait UnaryEvalBridge extends UnaryExpression with EvalBridge {
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode = nullSafeCodeGen(ctx, ev, v => evalCall(ctx, ev, v))
  }

  /** The codegen bridge for two children. */
  trait BinaryEvalBridge extends BinaryExpression with EvalBridge {
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => evalCall(ctx, ev, s"$a, $b"))
  }

  /** Cosine similarity of two float vectors, null if either is null or
    * lengths differ or a norm is 0. Single fused pass — no intermediate
    * arrays (vs composing zip_with + aggregate, which allocates). */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements() || n == 0) return null
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble
        val yi = y.getFloat(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
      if (nx == 0.0 || ny == 0.0) null
      else dot / (math.sqrt(nx) * math.sqrt(ny))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode = nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val n = ctx.freshName("n")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements() || $n == 0) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double xv = (double) $x.getFloat($i);
         |    double yv = (double) $y.getFloat($i);
         |    $dot += xv * yv; $nx += xv * xv; $ny += yv * yv;
         |  }
         |  if ($nx == 0.0 || $ny == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / (Math.sqrt($nx) * Math.sqrt($ny)); }
         |}
       """.stripMargin
    })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** 64-bit SimHash of a token array: each token is xxhash64'd; each of
    * the 64 output bits is the sign of the per-bit vote sum. Hamming
    * distance between SimHashes approximates token-multiset cosine
    * distance — the classic near-dup fingerprint (Charikar '02). */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val votes = new Array[Int](64)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val t = arr.getUTF8String(i)
          val h = XXH64.hashUnsafeBytes(
            t.getBaseObject, t.getBaseOffset, t.numBytes(), 42L)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
      java.lang.Long.valueOf(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode = nullSafeCodeGen(ctx, ev, arr => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val t = ctx.freshName("t")
      val out = ctx.freshName("out")
      val n = ctx.freshName("n")
      s"""
         |int $n = $arr.numElements();
         |if ($n == 0) { ${ev.isNull} = true; }
         |else {
         |  int[] $votes = new int[64];
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$arr.isNullAt($i)) {
         |      org.apache.spark.unsafe.types.UTF8String $t =
         |        $arr.getUTF8String($i);
         |      long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |        .hashUnsafeBytes($t.getBaseObject(), $t.getBaseOffset(),
         |                         $t.numBytes(), 42L);
         |      for (int $j = 0; $j < 64; $j++) {
         |        if ((($h >>> $j) & 1L) == 1L) $votes[$j]++;
         |        else $votes[$j]--;
         |      }
         |    }
         |  }
         |  long $out = 0L;
         |  for (int $j = 0; $j < 64; $j++) {
         |    if ($votes[$j] > 0) $out |= (1L << $j);
         |  }
         |  ${ev.value} = $out;
         |}
       """.stripMargin
    })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Component d of pseudo-random hyperplane p: XXH64(p ⧺ d, seed 7)
    * mapped to [-1, 1). A pure function of (p, d) — no stored model,
    * identical on every executor, and (being data-independent) exportable
    * as literal constants into an external oracle re-derivation. */
  def hyperplaneComponent(p: Int, d: Int): Double = {
    val h = XXH64.hashLong(p.toLong << 32 | (d.toLong & 0xffffffffL), 7L)
    h.toDouble / Long.MaxValue.toDouble
  }

  /** Deterministic pseudo-random hyperplane LSH signature for a float
    * vector: bit p of the result is the sign of `v · r_p`, where plane
    * `r_p`'s components are [[hyperplaneComponent]] values. */
  case class HyperplaneSignature(child: Expression, bits: Int)
      extends UnaryEvalBridge {
    require(bits > 0 && bits <= 64)
    override def dataType: DataType = LongType
    override def nullable: Boolean = true

    // plane components are pure functions of (plane, dim): build the
    // table ONCE per JVM on first eval instead of re-hashing bits×dim
    // XXH64 calls per row (at 16 bits × 256 dims that was 4096 hashes
    // per vector, identical for every row of the corpus). Sized to the
    // first vector seen; rows with more dims extend it. The codegen
    // bridge shares ONE expression instance across all tasks in the
    // JVM, so the cache must publish safely: volatile, built into a
    // local and assigned once — a concurrent double-build wastes a few
    // hashes, an unsafely published half-built table would silently
    // corrupt signatures.
    @transient @volatile private var planes: Array[Array[Double]] = _
    private def planeTable(n: Int): Array[Array[Double]] = {
      val cached = planes
      if (cached != null && cached(0).length >= n) return cached
      val t = Array.ofDim[Double](bits, n)
      var p = 0
      while (p < bits) {
        var d = 0
        while (d < n) { t(p)(d) = hyperplaneComponent(p, d); d += 1 }
        p += 1
      }
      planes = t
      t
    }

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = v.numElements()
      if (n == 0) return null
      val t = planeTable(n)
      var sig = 0L
      var p = 0
      while (p < bits) {
        val row = t(p)
        var dot = 0.0
        var d = 0
        while (d < n) {
          dot += v.getFloat(d) * row(d)
          d += 1
        }
        if (dot >= 0) sig |= (1L << p)
        p += 1
      }
      java.lang.Long.valueOf(sig)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All k-word shingles of a text, each collapsed to a 64-bit hash, in
    * one pass: lowercase, split on whitespace, xxhash64 each token, then
    * chain-hash k consecutive token hashes per shingle. Multiset (not
    * deduplicated — MinHash is invariant to duplicates; Jaccard callers
    * `.distinct()` after explode, a distributed dedup that replaces the
    * O(n²) per-row `array_distinct`). Texts shorter than k words yield
    * one shingle of all tokens; all-whitespace yields null. */
  case class ShingleHashes(child: Expression, k: Int)
      extends UnaryEvalBridge {
    require(k >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toLowerCase.toString
      // tokenize without regex: split on any whitespace run
      val tokenHashes = new java.util.ArrayList[java.lang.Long]()
      var i = 0
      val len = s.length
      while (i < len) {
        while (i < len && isRegexSpace(s.charAt(i))) i += 1
        val start = i
        while (i < len && !isRegexSpace(s.charAt(i))) i += 1
        if (i > start) {
          val t = UTF8String.fromString(s.substring(start, i))
          tokenHashes.add(XXH64.hashUnsafeBytes(
            t.getBaseObject, t.getBaseOffset, t.numBytes(), 42L))
        }
      }
      val n = tokenHashes.size()
      if (n == 0) return null
      val m = if (n >= k) n - k + 1 else 1
      val width = if (n >= k) k else n
      val out = new Array[Long](m)
      var s0 = 0
      while (s0 < m) {
        var h = 0x9e3779b97f4a7c15L
        var j = 0
        while (j < width) {
          h = XXH64.hashLong(tokenHashes.get(s0 + j), h)
          j += 1
        }
        out(s0) = h
        s0 += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Shared n-gram hashing core (FNV-1a over each n-char window; a
    * short string yields one hash of the whole string; empty → null),
    * optionally fused sort+dedup — exactly
    * `array_sort(array_distinct(...))` without the per-row boxed hash
    * set and boxed comparator the builtins pay. One implementation
    * shared by [[CharNgramHashes]] and [[JaccardSim]] so the
    * declarative predicate and the pipeline operator cannot drift. */
  private[graft] def charNgramHashesOf(
      s: String, n: Int, distinctSorted: Boolean): Array[Long] = {
    val len = s.length
    if (len == 0) return null
    val m = if (len >= n) len - n + 1 else 1
    val width = if (len >= n) n else len
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < width) {
        h ^= s.charAt(i + j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      out(i) = h
      i += 1
    }
    if (!distinctSorted) return out
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == m) out else java.util.Arrays.copyOf(out, w)
  }

  /** All character n-grams of a string, each as a 64-bit hash, one pass
    * (no substring allocation — rolling window over the char array).
    * Multiset; Jaccard callers `.distinct()` after explode. Strings
    * shorter than n yield one hash of the whole string; empty → null. */
  case class CharNgramHashes(child: Expression, n: Int,
      distinctSorted: Boolean = false)
      extends UnaryEvalBridge {
    require(n >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val out = VectorFunctions.charNgramHashesOf(
        input.asInstanceOf[UTF8String].toString, n, distinctSorted)
      if (out == null) null
      else org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** FNV-1a 64-bit over the string's UTF-8 BYTES (not chars) — the
    * hashing-trick featurizer's hash. Byte-level so any engine that
    * can enumerate UTF-8 bytes re-derives it exactly (the DuckDB
    * oracle folds the same bytes through the same multiply-xor);
    * deterministic across sessions and partitionings. Empty string
    * hashes to the FNV offset basis, null → null. */
  case class Fnv1a64Bytes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xff).toLong
        h *= 0x100000001b3L
        i += 1
      }
      h
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode = {
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      nullSafeCodeGen(ctx, ev, v => {
        s"""
           |byte[] $b = $v.getBytes();
           |long $h = 0xcbf29ce484222325L;
           |for (int $i = 0; $i < $b.length; $i++) {
           |  $h ^= ($b[$i] & 0xffL);
           |  $h *= 0x100000001b3L;
           |}
           |${ev.value} = $h;
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** One BPE merge application: left-to-right non-overlapping fold of
    * the symbol list, replacing each adjacent (a, b) with the merged
    * symbol a+b — the exact list-fold semantics of the reference BPE
    * algorithm (Sennrich et al. 2016 `merge_vocab`). A string
    * `replace` cannot emulate this: consecutive occurrences share the
    * separator ("a n a n a" under-merges), hence the expression. The
    * merge pair rides as literals (captured per training round, the
    * kmeans-centroid pattern), so application is scan-stage. */
  case class BpeMergePair(child: Expression, a: String, b: String)
      extends UnaryEvalBridge {
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    private val au = UTF8String.fromString(a)
    private val bu = UTF8String.fromString(b)
    private val mu = UTF8String.fromString(a + b)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new java.util.ArrayList[UTF8String](n)
      var i = 0
      while (i < n) {
        // a null symbol is malformed input: yield null rather than
        // copying the null into a containsNull=false result array
        if (arr.isNullAt(i)) return null
        if (i + 1 < n && !arr.isNullAt(i + 1) &&
            arr.getUTF8String(i) == au &&
            arr.getUTF8String(i + 1) == bu) {
          out.add(mu); i += 2
        } else { out.add(arr.getUTF8String(i)); i += 1 }
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        out.toArray)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All `k` MinHash values of a 64-bit element array in one pass:
    * output[i] = min over elements e of xxhash64(e, seed = i). Replaces
    * the explode → k×min-agg formulation, which shuffled every shingle
    * hash and ran a k-column hash aggregate — this computes the whole
    * signature inside the scan stage, so the only rows that ever move
    * are (doc_id, signature). Null/empty input → null (docs with no
    * shingles can't be banded). */
  case class MinHashSignature(child: Expression, k: Int)
      extends UnaryEvalBridge {
    require(k >= 1)
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val e = arr.getLong(i)
        var j = 0
        while (j < k) {
          val h = XXH64.hashLong(e, j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** AllPairs/PPJoin prefix selection inside the scan stage: sort the
    * doc's (distinct) gram hashes by the canonical global order
    * (document frequency asc, gram asc) and keep the first
    * `n - ceil(t*n) + 1` — the doc's RAREST grams, the only ones that
    * need indexing for an exact Jaccard-threshold join.
    *
    * `hotDf` is a driver-built model of the most frequent grams (a
    * bounded "stop-gram list"); grams outside it rank as df=1, ties by
    * gram value. Any consistent total order preserves the exact-recall
    * guarantee — df-ordering is the candidate-volume heuristic, so only
    * the hot end of the distribution needs true counts. This replaces a
    * full df join + per-doc window sort (two corpus-wide shuffles) with
    * a per-row sort against a broadcast-sized map. */
  case class PrefixGrams(child: Expression, hotDf: Map[Long, Long],
      threshold: Double) extends UnaryEvalBridge {
    require(threshold > 0 && threshold <= 1)
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val p0 = n - math.ceil(threshold * n - 1e-9).toInt + 1
      val p = math.min(math.max(p0, 1), n)
      // one df lookup per gram (not per comparison): sort (weight, gram)
      // pairs with a primitive-friendly comparator
      val pairs = new Array[Array[Long]](n)
      var i = 0
      while (i < n) {
        val g = arr.getLong(i)
        pairs(i) = Array(hotDf.getOrElse(g, 1L), g)
        i += 1
      }
      java.util.Arrays.sort(pairs,
        (a: Array[Long], b: Array[Long]) => {
          val c = java.lang.Long.compare(a(0), b(0))
          if (c != 0) c else java.lang.Long.compare(a(1), b(1))
        })
      val out = new Array[Long](p)
      i = 0
      while (i < p) { out(i) = pairs(i)(1); i += 1 }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** A bucket generator's output rows: sized exactly when the row count
    * is known up front, grown by doubling otherwise. */
  final class BucketRows(capacity: Int) {
    private var rows = new Array[Any](capacity)
    private var n = 0
    def +=(row: InternalRow): Unit = {
      if (n == rows.length) rows = Array.copyOf(rows, math.max(16, 2 * n))
      rows(n) = row
      n += 1
    }
    def result: ArrayData = new GenericArrayData(
      if (n == rows.length) rows else Array.copyOf(rows, n))
  }

  private val idPairType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false))),
    containsNull = false)

  /** The capped-bucket core of the six in-bucket pair generators. Input:
    * one bucket's postings, bare ids (`array<long>`) when
    * `postingFields` is 0, else structs of that many fields with the
    * long id in field 0. Fewer than 2 postings give an empty array; a
    * null posting gives null, as malformed input does everywhere in
    * this file. The postings are sorted by id — a primitive sort for
    * bare ids, a stable index sort for structs, so equal ids keep their
    * input order — and cut at the `maxBucket` smallest: the candidates
    * a row_number-over-window cap keeps, without its extra posting
    * sort-shuffle (the groupBy that builds the bucket pays the only
    * shuffle candidate generation needs). `emit` runs the generator's
    * pair loop over the capped postings in id order and emits each pair
    * of distinct ids as `id_a < id_b`. */
  abstract class BucketGenerator extends UnaryEvalBridge {
    def maxBucket: Int

    /** Fields of a posting struct; 0 for bare ids. */
    protected def postingFields: Int

    /** `emit` adds every pair of the capped bucket, so the output is
      * sized exactly — once m(m−1)/2 is known to fit an array. */
    protected def emitsAllPairs: Boolean = false

    /** The pair loop over `ids(0 until m)`, ascending; `ps(k)` is the
      * posting of `ids(k)` (null for bare ids). */
    protected def emit(ids: Array[Long], ps: Array[InternalRow], m: Int,
        out: BucketRows): Unit

    override def nullable: Boolean = true

    override final def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < 2) return new GenericArrayData(Array.empty[Any])
      var i = 0
      while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
      val m = math.min(n, maxBucket)
      val (ids, ps) =
        if (postingFields > 0) sortedPostings(arr, n, m)
        else {
          val ids = arr.toLongArray()
          java.util.Arrays.sort(ids)
          (ids, null: Array[InternalRow])
        }
      // long arithmetic: m*(m-1) overflows Int for m > 65536 and the
      // misallocated array would crash mid-fill
      val pairs = m.toLong * (m - 1) / 2
      require(!emitsAllPairs || pairs <= Int.MaxValue,
        s"$prettyName: bucket cap $m yields $pairs pairs (> 2^31)")
      val out = new BucketRows(if (emitsAllPairs) pairs.toInt else 16)
      emit(ids, ps, m, out)
      out.result
    }

    private def sortedPostings(arr: ArrayData, n: Int, m: Int)
        : (Array[Long], Array[InternalRow]) = {
      val all = new Array[Long](n)
      val order = new Array[Integer](n)
      var i = 0
      while (i < n) {
        all(i) = arr.getStruct(i, postingFields).getLong(0)
        order(i) = i
        i += 1
      }
      java.util.Arrays.sort(order,
        (a: Integer, b: Integer) => java.lang.Long.compare(all(a), all(b)))
      val ids = new Array[Long](m)
      val ps = new Array[InternalRow](m)
      i = 0
      while (i < m) {
        ids(i) = all(order(i))
        ps(i) = arr.getStruct(order(i), postingFields)
        i += 1
      }
      (ids, ps)
    }
  }

  /** The AllPairs/PPJoin pair loop (Bayardo WWW'07; Xiao et al. WWW'08
    * for the index-prefix bound) of [[BucketPairs]] and
    * [[VerifiedBucketPairs]]. Postings are (id, rn, x) structs: rn is
    * the 1-based position of the bucket gram in the doc's canonical
    * (df, gram) order, and x gives the doc's distinct-gram count — the
    * count itself, or the doc's sorted gram array when the generator
    * `verifies`. A capped pair survives
    *  - the size filter: J ≥ t ⇒ t·|a| ≤ |b| ≤ |a|/t;
    *  - the positional filter: the witnessed overlap
    *    min(|a|-rn_a, |b|-rn_b) + 1 must reach α = t/(1+t)·(|a|+|b|).
    *    (This per-edge bound with the true pairwise α subsumes PPJoin's
    *    static index-prefix bound ⌈2t/(1+t)·|x|⌉ on the smaller record:
    *    α ≥ 2t/(1+t)·|min| always, so a separate index-prefix check
    *    can never fire when the positional filter passes.)
    *  - when the generator verifies: distinct ids and an exact Jaccard
    *    ≥ t − EPS by the early-abandon merge intersect.
    * EPS mirrors PrefixGrams: every real-arithmetic bound is relaxed
    * by 1e-9 in the admit direction, so float evaluation can only let
    * extra candidates through, never drop a true pair. */
  abstract class SizeBandedPairs extends BucketGenerator {
    def threshold: Double
    protected def verifies: Boolean
    private final val EPS = 1e-9

    override def dataType: DataType = idPairType
    override protected def postingFields: Int = 3

    override protected def emit(ids: Array[Long], ps: Array[InternalRow],
        m: Int, out: BucketRows): Unit = {
      val t = threshold
      val sz = Array.tabulate(m)(k =>
        if (verifies) ps(k).getArray(2).numElements() else ps(k).getInt(2))
      // The cap is taken in id order; the CAPPED prefix is then
      // re-sorted by SIZE so the upper length bound becomes a BREAK:
      // with sizes ascending and j > i, sb ≥ sa makes the lower bound
      // (sb ≥ t·sa − EPS) vacuous, and the first j rejected by the
      // upper bound (sa < t·sb − EPS) rejects every later j too — the
      // length filter drops from m²/2 evaluated checks to the pairs
      // inside each size band [t·sa, sa/t]. Pair identity is preserved
      // by emitting (min id, max id); the order inside the output array
      // is not part of the contract (every caller explodes and dedups).
      // Tiny buckets skip the re-sort: most buckets in a healthy corpus
      // are a handful of postings, where a boxed comparator sort costs
      // more than the few length checks it saves.
      val banded = m > 16
      val order = Array.tabulate[Integer](m)(k => k)
      if (banded) java.util.Arrays.sort(order,
        (a: Integer, b: Integer) => {
          val c = java.lang.Integer.compare(sz(a), sz(b))
          if (c != 0) c else java.lang.Long.compare(ids(a), ids(b))
        })
      // Flattened to primitive arrays BEFORE the m²/2 loop: this loop
      // is the measured CPU bound of the whole exact-jaccard family
      // (the sf30-he event-log profile put 94 % of a 335 s stage here),
      // and boxed postings would pay a dereference and unboxings per
      // candidate check where sequential primitive loads suffice.
      val sIds = new Array[Long](m)
      val sRns = new Array[Int](m)
      val sSzs = new Array[Int](m)
      val sGss = if (verifies) new Array[Array[Long]](m) else null
      var i = 0
      while (i < m) {
        val o = order(i)
        sIds(i) = ids(o); sRns(i) = ps(o).getInt(1); sSzs(i) = sz(o)
        if (sGss != null) sGss(i) = ps(o).getArray(2).toLongArray()
        i += 1
      }
      val tc = t / (1.0 + t)
      i = 0
      while (i < m) {
        val ia = sIds(i); val ra = sRns(i); val sa = sSzs(i)
        val slackA = sa - ra
        var j = i + 1
        var inBand = true
        while (j < m && inBand) {
          val sb = sSzs(j)
          if (banded && sa < t * sb - EPS) inBand = false
          else {
            if (banded || (sb >= t * sa - EPS && sa >= t * sb - EPS)) {
              val rb = sRns(j)
              val ov = if (slackA < sb - rb) slackA else sb - rb
              val ib = sIds(j)
              if (ov + 1 >= tc * (sa + sb) - EPS && (sGss == null ||
                  (ib != ia && jaccardPasses(sGss(i), sGss(j), t))))
                out += (if (ia <= ib) InternalRow(ia, ib)
                  else InternalRow(ib, ia))
            }
            j += 1
          }
        }
        i += 1
      }
    }

    /** Early-abandon verification: minOv is the smallest integer count
      * the final check can accept — c/(sa+sb−c) ≥ t−EPS ⇔
      * c ≥ (t−EPS)(sa+sb)/(1+t−EPS) — floored by a nano-epsilon so
      * rounding can only ADMIT an extra merge, never reject a passing
      * pair (see [[mergeIntersectAtLeast]]). */
    private def jaccardPasses(ga: Array[Long], gb: Array[Long],
        t: Double): Boolean = {
      val sa = ga.length; val sb = gb.length
      val tReq = t - EPS
      val minOv = math.ceil(tReq * (sa + sb) / (1.0 + tReq) - 1e-9).toInt
      val c = mergeIntersectAtLeast(ga, gb, minOv)
      c >= 0 && c.toDouble / (sa + sb - c).toDouble >= t - EPS
    }
  }

  /** Candidate pairs within one inverted-index bucket, with every
    * AllPairs/PPJoin prune of [[SizeBandedPairs]] fused into the
    * generator. Input: the bucket's postings as
    * array<struct<doc_id:long, rn:int, sz:int>> (sz = the doc's
    * distinct-gram count). Output: the (id_a < id_b) pairs that survive
    * the cap and the size and positional filters. */
  case class BucketPairs(child: Expression, maxBucket: Int,
      threshold: Double) extends SizeBandedPairs {
    require(maxBucket >= 2 && threshold > 0 && threshold <= 1)
    override protected def verifies: Boolean = false

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** The verifying generator for the EXACT declarative similarity-join
    * rewrite: postings carry each doc's full sorted gram array, the
    * m²/2 loop applies the fused length + positional prunes, and
    * SURVIVORS are verified inline by the shared sorted-merge intersect
    * — jaccard = c/(|a|+|b|−c), the bit-exact arithmetic of
    * [[JaccardSim]]. Emitting only verified pairs is what makes the
    * exact rewrite feasible at scale: the measured sf1 corpus yields
    * 152 M filter survivors from 2.8e9 in-bucket checks, and
    * materializing those survivors for a join-back verification (each
    * row carrying two ~2.3 KB gram arrays) would spill ~400 GB where
    * this loop spends a merge-intersect per survivor and ships only the
    * final pair ids. Threshold admits at `jac >= threshold − EPS` — the
    * caller re-evaluates the ORIGINAL predicate (>= or >) on the
    * joined-back rows, so the relaxed bound can only add candidates,
    * never drop a qualifying pair. Input structs: (id: long, rn: int,
    * gs: sorted distinct gram hashes); |gs| is derived, not carried.
    * Cross-bucket duplicates are the caller's `.distinct()`. */
  case class VerifiedBucketPairs(child: Expression, maxBucket: Int,
      threshold: Double) extends SizeBandedPairs {
    require(maxBucket >= 2 && threshold > 0 && threshold <= 1)
    override protected def verifies: Boolean = true

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    * the MOSS algorithm): over the POSITIONAL k-gram hash sequence,
    * slide a window of `w` hashes and select each window's LEFTMOST
    * minimum; consecutive windows selecting the same position emit one
    * fingerprint. Guarantees: any shared substring of length ≥ k+w-1
    * yields at least one shared fingerprint, and selected positions
    * are at most w apart — the standard local document fingerprint for
    * plagiarism/near-dup detection at a fraction of the full gram set.
    * Output: array<struct<pos:int, fp:long>> in position order.
    * Minima are by SIGNED long order (the natural Long ordering — any
    * total order works for winnowing; external re-derivations must
    * match it). O(m) via a monotone deque (equal hashes keep the
    * earliest position, so the front IS the leftmost minimum). */
  case class WinnowedFingerprints(child: Expression, w: Int)
      extends UnaryEvalBridge {
    require(w >= 1)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val m = arr.numElements()
      if (m == 0) return null
      val hs = arr.toLongArray()
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      // deque of positions, hashes increasing front→back; strict `>`
      // pop keeps the earliest occurrence of equal minima at the front
      val deque = new java.util.ArrayDeque[Integer]()
      var lastSel = -1
      var i = 0
      while (i < m) {
        while (!deque.isEmpty && hs(deque.peekLast) > hs(i))
          deque.pollLast()
        deque.addLast(i)
        if (deque.peekFirst <= i - w) deque.pollFirst()
        if (i >= w - 1 || i == m - 1) { // short inputs: one final window
          val sel = deque.peekFirst.intValue()
          if (sel != lastSel) {
            out += org.apache.spark.sql.catalyst.InternalRow(sel, hs(sel))
            lastSel = sel
          }
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All pairs within one LSH bucket, given the bucket's member ids. */
  case class CappedPairs(child: Expression, maxBucket: Int)
      extends BucketGenerator {
    require(maxBucket >= 2)
    override def dataType: DataType = idPairType
    override protected def postingFields: Int = 0
    override protected def emitsAllPairs: Boolean = true

    override protected def emit(ids: Array[Long], ps: Array[InternalRow],
        m: Int, out: BucketRows): Unit = {
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) { out += InternalRow(ids(i), ids(j)); j += 1 }
        i += 1
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** [[CappedPairs]] for INCREMENTAL dedup: postings carry an is_new
    * flag (array<struct<doc_id:long, is_new:boolean>>) and only pairs
    * touching at least one NEW member are emitted — the old×old pairs
    * were produced when the old epoch was deduplicated, so an epoch
    * merge must not re-emit (or re-verify) them. */
  case class FlaggedCappedPairs(child: Expression, maxBucket: Int)
      extends BucketGenerator {
    require(maxBucket >= 2)
    override def dataType: DataType = idPairType
    override protected def postingFields: Int = 2

    override protected def emit(ids: Array[Long], ps: Array[InternalRow],
        m: Int, out: BucketRows): Unit = {
      val isNew = Array.tabulate(m)(k => ps(k).getBoolean(1))
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) {
          if (isNew(i) || isNew(j)) out += InternalRow(ids(i), ids(j))
          j += 1
        }
        i += 1
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Set-bit positions of a Spark SQL bitmap (the 4 KB binary built by
    * `bitmap_construct_agg(bitmap_bit_position(x))`), as array<int> —
    * the decode half Spark doesn't ship. Layout matches
    * BitmapConstructAgg exactly: bit p lives at byte p/8, bit p%8
    * (verified against the builtin in VectorFunctionsSpec by a
    * construct→decode round trip), so
    * `(bucket−1)·32768 + position + 1` recovers the original value.
    * Lets an aggregate ship BOUNDED bitmaps through an exchange and
    * explode them back to ids AFTER the reduction — the dense-frontier
    * BFS exchange compression ([[graft.operators.Graph.bfsHops]]). */
  case class BitmapPositions(child: Expression) extends UnaryEvalBridge {
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      var n = 0
      var i = 0
      while (i < bytes.length) {
        n += java.lang.Integer.bitCount(bytes(i) & 0xff)
        i += 1
      }
      val out = new Array[Int](n)
      var k = 0
      i = 0
      while (i < bytes.length) {
        var b = bytes(i) & 0xff
        while (b != 0) {
          val low = java.lang.Integer.numberOfTrailingZeros(b)
          out(k) = i * 8 + low
          k += 1
          b &= b - 1
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `a AND NOT b` over two Spark SQL bitmaps — the set difference the
    * BFS visited-mask needs (bits reached this round minus bits ever
    * reached before), as one bounded byte-loop instead of a decode →
    * anti-join → re-encode round trip. Shorter input is treated as
    * zero-extended: bytes of `a` beyond `b`'s length pass through, and
    * bits of `b` beyond `a`'s length have nothing to clear. */
  case class BitmapAndNot(left: Expression, right: Expression)
      extends BinaryEvalBridge {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = left.nullable || right.nullable

    override def nullSafeEval(a: Any, b: Any): Any = {
      val ab = a.asInstanceOf[Array[Byte]]
      val bb = b.asInstanceOf[Array[Byte]]
      val out = ab.clone()
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        out(i) = (out(i) & ~bb(i)).toByte
        i += 1
      }
      out
    }

    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): Expression = copy(left = l, right = r)
  }

  /** SimHash bucket pairs with the Hamming verification fused in:
    * input is the bucket's array<struct<doc_id:long, sig:long>>; output
    * every (id_a < id_b, hamming = popcount(sig_a ^ sig_b) ≤ maxHamming)
    * triple. The whole near-dup check — candidate generation AND
    * verification — runs inside the bucket stage because the
    * verification needs nothing but the two 8-byte signatures already
    * in the posting. */
  case class HammingPairs(child: Expression, maxBucket: Int,
      maxHamming: Int) extends BucketGenerator {
    require(maxBucket >= 2 && maxHamming >= 0)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))),
      containsNull = false)
    override protected def postingFields: Int = 2

    override protected def emit(ids: Array[Long], ps: Array[InternalRow],
        m: Int, out: BucketRows): Unit = {
      val sigs = Array.tabulate(m)(k => ps(k).getLong(1))
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) {
          val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
          if (h <= maxHamming) out += InternalRow(ids(i), ids(j), h)
          j += 1
        }
        i += 1
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Product-quantization encoder: split the vector into `M` equal
    * subspaces and store, per subspace, the index of the codebook
    * centroid maximizing `dot(sub, c) − ‖c‖²/2` (the argmin-L2
    * assignment rewritten so an external SQL oracle can reproduce it
    * from one sequential dot product and one exported literal — both
    * engines evaluate the identical float expression, so they agree
    * even at near-ties; exact ties pick the smallest index). Output:
    * array<int> of M codes — at 100 TB, 4–8 bits per subspace turns a
    * 256-byte embedding into a handful of bytes, and the code table
    * (not the vectors) is what the candidate scan reads. */
  case class PqEncode(child: Expression,
      codebooks: Seq[Seq[Seq[Double]]], halfNorms: Seq[Seq[Double]])
      extends UnaryEvalBridge {
    private val m = codebooks.size
    private val subDim = codebooks.head.head.size
    // primitive copies for the hot loop: Seq.apply in the innermost
    // dot product boxes every component (and degrades to an O(d) walk
    // if a caller passes Lists); the case-class Seq fields stay for
    // equality/serialization
    @transient private lazy val cbArr: Array[Array[Array[Double]]] =
      codebooks.map(_.map(_.toArray).toArray).toArray
    @transient private lazy val hnArr: Array[Array[Double]] =
      halfNorms.map(_.toArray).toArray
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      if (v.numElements() != m * subDim) return null
      val codes = new Array[Int](m)
      var mm = 0
      while (mm < m) {
        val cb = cbArr(mm); val hn = hnArr(mm)
        var best = 0
        var bestScore = Double.NegativeInfinity
        var k = 0
        while (k < cb.length) {
          val c = cb(k)
          var dot = 0.0
          var d = 0
          while (d < subDim) {
            dot += v.getFloat(mm * subDim + d).toDouble * c(d)
            d += 1
          }
          val s = dot - hn(k)
          if (s > bestScore) { bestScore = s; best = k }
          k += 1
        }
        codes(mm) = best
        mm += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Asymmetric-distance (ADC) score of a PQ-coded vector against a
    * raw query: Σ over subspaces of `dot(q_sub, codebook[m][code_m])`
    * — the approximate dot product used to rank candidates before the
    * exact rerank. Accumulation order (subspaces ascending, one
    * sequential dot each) is pinned so the SQL oracle's left-nested
    * sum of `list_dot_product`s reproduces it bit-for-bit. */
  case class PqAdc(left: Expression, right: Expression,
      codebooks: Seq[Seq[Seq[Double]]]) extends BinaryEvalBridge {
    private val m = codebooks.size
    private val subDim = codebooks.head.head.size
    @transient private lazy val cbArr: Array[Array[Array[Double]]] =
      codebooks.map(_.map(_.toArray).toArray).toArray
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def nullSafeEval(q: Any, codesIn: Any): Any = {
      val v = q.asInstanceOf[ArrayData]
      val codes = codesIn.asInstanceOf[ArrayData]
      if (v.numElements() != m * subDim || codes.numElements() != m)
        return null
      var s = 0.0
      var mm = 0
      while (mm < m) {
        val code = codes.getInt(mm)
        // corrupt/foreign code arrays yield null like every other
        // malformed input here, instead of failing the task
        if (code < 0 || code >= cbArr(mm).length) return null
        val c = cbArr(mm)(code)
        var dot = 0.0
        var d = 0
        while (d < subDim) {
          dot += v.getFloat(mm * subDim + d).toDouble * c(d)
          d += 1
        }
        s += dot
        mm += 1
      }
      java.lang.Double.valueOf(s)
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Per-member best cosine neighbor within one LSH bucket, candidate
    * generation and scoring fused (the embedding analog of
    * [[HammingPairs]]). Input: the bucket's postings as
    * array<struct<vec_id:long, embedding:array<float>>>. Output: one
    * struct<vec_id, nn_id, cosine> per member that has at least one
    * scorable neighbor — the member's best (cosine DESC, nn_id ASC)
    * neighbor in the bucket. Emits O(m) rows from the O(m²) in-bucket
    * comparisons, so a downstream per-vector reduce sees ≤ bands rows
    * per vector instead of whole buckets. The cosine replicates
    * [[CosineSimilarity]] bit-for-bit (sequential double accumulation,
    * one divide); degenerate members (null / zero-norm /
    * length-mismatched vectors) score null and are skipped. */
  case class CosineBucketBest(child: Expression, maxBucket: Int)
      extends BucketGenerator {
    require(maxBucket >= 2)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("nn_id", LongType, nullable = false),
      StructField("cosine", DoubleType, nullable = false))),
      containsNull = false)
    override protected def postingFields: Int = 2

    override protected def emit(ids: Array[Long], ps: Array[InternalRow],
        m: Int, out: BucketRows): Unit = {
      val vecs = Array.tabulate(m)(k =>
        if (ps(k).isNullAt(1)) null else ps(k).getArray(1).toFloatArray())
      // norms once per member, same accumulation order as
      // CosineSimilarity's nx/ny loops
      val norms = new Array[Double](m)
      var i = 0
      while (i < m) {
        val v = vecs(i)
        if (v != null) {
          var s = 0.0; var d = 0
          while (d < v.length) {
            val x = v(d).toDouble; s += x * x; d += 1
          }
          norms(i) = s
        }
        i += 1
      }
      i = 0
      while (i < m) {
        val vi = vecs(i)
        if (vi != null && norms(i) != 0.0) {
          // explicit found flag — an id sentinel (bestId >= 0) would
          // silently drop members whose best neighbor has a negative
          // id (hash-derived ids are negative half the time)
          var found = false
          var bestId = 0L
          var bestCos = Double.NegativeInfinity
          var j = 0
          while (j < m) {
            val vj = vecs(j)
            if (j != i && vj != null && vj.length == vi.length &&
                norms(j) != 0.0) {
              var dot = 0.0; var d = 0
              while (d < vi.length) {
                dot += vi(d).toDouble * vj(d).toDouble; d += 1
              }
              val cos = dot / (math.sqrt(norms(i)) * math.sqrt(norms(j)))
              if (!found || cos > bestCos ||
                  (cos == bestCos && ids(j) < bestId)) {
                bestCos = cos; bestId = ids(j); found = true
              }
            }
            j += 1
          }
          if (found) out += InternalRow(ids(i), bestId, bestCos)
        }
        i += 1
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Exact Jaccard of two docs' gram sets looked up from a Spark
    * `Broadcast` map — the hand-fused analog of the two broadcast hash
    * joins the shuffle path runs to attach both gram arrays to a
    * candidate row. Runs AFTER the candidate distinct, so each pair is
    * verified exactly once and the ~KB-sized arrays never appear in a
    * row at all. Callers gate this on the same size guard as a
    * broadcast join; beyond the guard the join pipeline (shuffles
    * proportional to the candidate count) is the 100 TB route.
    * The arithmetic replicates the column formula bit-for-bit (int
    * count subtraction, exact int→double widenings, one double
    * divide). */
  case class BroadcastJaccard(left: Expression, right: Expression,
      sets: org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[Long, Array[Long]]])
      extends BinaryEvalBridge {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any = {
      val gsets = sets.value
      (gsets.get(a.asInstanceOf[Long]), gsets.get(b.asInstanceOf[Long])) match {
        case (Some(ga), Some(gb)) =>
          val c = mergeIntersectCount(ga, gb)
          java.lang.Double.valueOf(
            c.toDouble / (ga.length + gb.length - c).toDouble)
        case _ => null
      }
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Filter an `array<long>` to the members of a broadcast set — the
    * long-keyed sibling of [[BroadcastMemberCount]]. Order-preserving,
    * null array → null. Used for scan-stage A-Priori pruning: each
    * basket's item array is cut to frequent items BEFORE pair
    * generation, with the frequent-item set shipped once per executor
    * instead of joined per row. */
  case class LongSetFilter(child: Expression,
      members: org.apache.spark.broadcast.Broadcast[
        scala.collection.immutable.Set[Long]])
      extends UnaryEvalBridge {
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val set = members.value
      val n = arr.numElements()
      val keep = new scala.collection.mutable.ArrayBuffer[Long](n)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val v = arr.getLong(i)
          if (set.contains(v)) keep += v
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        keep.toArray)
    }

    override protected def withNewChildInternal(c: Expression)
        : Expression = copy(child = c)
  }

  /** Count of a string-array column's elements present in a BROADCAST
    * set — the membership primitive for decontamination-style lookups
    * against a small reference set. Unlike a `typedLit` array (which
    * rides inside the serialized plan and is re-walked per row by
    * `array_intersect`), the broadcast ships once per executor and
    * lookups are O(1) per element. The set holds `UTF8String` keys so
    * probes compare the array's bytes in place — no per-gram String
    * allocation in the hot loop (build the set with
    * [[broadcastStringSet]]). Distinctness is the CALLER's contract
    * (gram arrays are already array_distinct), so the count is the
    * distinct-intersection size. */
  case class BroadcastMemberCount(child: Expression,
      members: org.apache.spark.broadcast.Broadcast[
        scala.collection.immutable.Set[
          org.apache.spark.unsafe.types.UTF8String]])
      extends UnaryEvalBridge {
    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable

    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val set = members.value
      var c = 0L; var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i) &&
          set.contains(arr.getUTF8String(i))) c += 1L
        i += 1
      }
      java.lang.Long.valueOf(c)
    }

    override protected def withNewChildInternal(c: Expression)
        : Expression = copy(child = c)
  }

  /** Scalar cosine over float arrays, replicating [[CosineSimilarity]]
    * bit-for-bit (same sequential double accumulation, one divide);
    * null for length mismatch / empty / zero norm. Shared with the
    * streaming embedding-dedup twin so stream and batch score a pair
    * identically. */
  private[graft] def cosineOfFloats(a: Array[Float], b: Array[Float])
      : java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.length
    if (n != b.length || n == 0) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = a(i).toDouble
      val yi = b(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }

  /** Shared merge-intersection over sorted duplicate-free long arrays —
    * the primitive behind both [[SortedIntersectCount]] (column form)
    * and [[BroadcastJaccard]] (broadcast-map form), also used directly
    * by the streaming dedup's in-state verification. */
  private[graft] def mergeIntersectCount(
      x: Array[Long], y: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < x.length && j < y.length) {
      val a = x(i); val b = y(j)
      if (a == b) { c += 1; i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    c
  }

  /** [[mergeIntersectCount]] with EARLY ABANDON for threshold
    * verification: returns the exact count when it can reach `minOv`,
    * or -1 as soon as `c + remaining(consumed side) < minOv` proves it
    * cannot. This is the PPJoin+ suffix-filter idea adapted to
    * HASH-SORTED gram arrays: the classic partition-probe bound
    * (split both suffixes at a pivot token, bound overlap by the
    * half-sizes) degenerates here because uniformly-distributed hash
    * values give near-proportional splits on BOTH sides regardless of
    * true overlap — the bound stays ≈ min(|a|,|b|) and prunes nothing,
    * while costing a binary search per candidate. Folding the same
    * Hamming-distance bound INTO the merge instead makes every
    * mismatch step tighten it: a failing pair at threshold t exits
    * after ~2·(1−t/(1+t))·s steps instead of ~2s (measured ~4× fewer
    * merge steps at t=0.8 on the survivor population, which is
    * overwhelmingly non-matching — the verified-pair yield of the
    * m²/2 loop is ≪1%).
    *
    * Exact-recall proof: -1 is returned only when
    * c_now + min(remaining_x, remaining_y) < minOv; the final count
    * can add at most min(remaining) to c_now, so count < minOv — the
    * caller's threshold check would have rejected the pair anyway.
    * Callers must pass minOv ≤ the smallest count that passes their
    * final check (a conservative/floored bound keeps exactness). */
  private[graft] def mergeIntersectAtLeast(
      x: Array[Long], y: Array[Long], minOv: Int): Int = {
    val nx = x.length; val ny = y.length
    if (math.min(nx, ny) < minOv) return -1
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val a = x(i); val b = y(j)
      if (a == b) { c += 1; i += 1; j += 1 }
      else if (a < b) {
        i += 1
        if (c + nx - i < minOv) return -1
      } else {
        j += 1
        if (c + ny - j < minOv) return -1
      }
    }
    c
  }

  /** |A ∩ B| for two SORTED long arrays by linear merge — the exact
    * same count `size(array_intersect(a, b))` returns on distinct
    * inputs, minus the per-call hash-set build and boxing. Sits in the
    * hot loop of pair verification (candidates × gram sets), where the
    * merge is ~5× cheaper than hashing both sides. Inputs MUST be
    * sorted ascending and duplicate-free (array_sort ∘ array_distinct). */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val nx = x.numElements(); val ny = y.numElements()
      var i = 0; var j = 0; var c = 0
      while (i < nx && j < ny) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode = nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements(); int $ny = $y.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** One-pass character-class census of the lowercased text:
    * (n_chars, n_alnum, n_digit, n_ws, n_words) where n_words counts
    * non-whitespace runs and the ws class is the regex-`\s` set —
    * the SAME predicate `NormalizeText` (and therefore the tokenizer)
    * uses, so n_words always agrees with tokenCount, including on
    * Unicode whitespace. Replaces three separate regexp_replace passes
    * under quality scoring; reproduces the regex formulas on ASCII. */
  case class TextStats(child: Expression) extends UnaryEvalBridge {
    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", LongType, nullable = false),
      StructField("n_alnum", LongType, nullable = false),
      StructField("n_digit", LongType, nullable = false),
      StructField("n_ws", LongType, nullable = false),
      StructField("n_words", LongType, nullable = false)))

    private def isWs(c: Char): Boolean = isRegexSpace(c)

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toLowerCase.toString
      var alnum = 0L; var digit = 0L; var ws = 0L; var words = 0L
      var inWord = false
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (isWs(c)) { ws += 1; inWord = false }
        else {
          if (!inWord) { words += 1; inWord = true }
          if (c >= '0' && c <= '9') { digit += 1; alnum += 1 }
          else if (c >= 'a' && c <= 'z') alnum += 1
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(
        s.length.toLong, alnum, digit, ws, words)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Canonicalization core shared by [[NormalizeText]] and
    * [[JaccardSim]]: lowercase + collapse whitespace runs + trim. */
  /** The regex-`\s` character set — [ \t\n\x0B\f\r], identical in
    * Java regex (the declarative ancestors' regexp_replace) and RE2
    * (the DuckDB oracles). NOT Character.isWhitespace, which also
    * matches U+2000-class Unicode spaces and would make the
    * imperative walk diverge from both the declarative formulation
    * and the oracle on non-ASCII whitespace. */
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
      c == '\f' || c == '\r'

  private[graft] def normalizeStringOf(input: UTF8String): String = {
    val s = input.toLowerCase.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (isRegexSpace(c)) {
        if (sb.length() > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Token start offsets of an already-normalized (single-spaced,
    * trimmed, non-empty) string — THE token-boundary definition,
    * shared by [[wordShinglesOf]], [[wordBigramsOf]] and
    * [[topTokenFracOf]] so the three walks can never drift apart.
    * Token i spans [starts(i), starts(i+1) − 1) (or the string end). */
  private def tokenStartsOf(norm: String): Array[Int] = {
    val starts = new scala.collection.mutable.ArrayBuffer[Int](16)
    starts += 0
    var i = 0
    while (i < norm.length) {
      if (norm.charAt(i) == ' ') starts += i + 1
      i += 1
    }
    starts.toArray
  }

  private[graft] def wordShinglesOf(text: UTF8String, k: Int)
      : Array[UTF8String] = {
    val norm = if (text == null) "" else normalizeStringOf(text)
    if (norm.isEmpty) return Array(UTF8String.EMPTY_UTF8)
    val starts = tokenStartsOf(norm)
    val nTok = starts.length
    if (nTok < k) return Array(UTF8String.fromString(norm))
    val seen = new java.util.LinkedHashSet[String]
    var w = 0
    while (w <= nTok - k) {
      val end = if (w + k < nTok) starts(w + k) - 1 else norm.length
      seen.add(norm.substring(starts(w), end))
      w += 1
    }
    val out = new Array[UTF8String](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    out
  }

  /** One-pass word-bigram INSTANCES (the multiset twin of
    * [[WordShingles]] — repetition and collocation statistics count
    * instances, not distinct grams): every adjacent token pair of the
    * normalized text as "w1 w2", in order; < 2 tokens (and null/empty
    * input, matching the declarative `when(size>=2)…otherwise([])`
    * formulation) → empty array. Same motivation as [[WordShingles]]:
    * the builtin-HOF version re-tokenizes per position. */
  private[graft] def wordBigramsOf(text: UTF8String)
      : Array[UTF8String] = {
    val norm = if (text == null) "" else normalizeStringOf(text)
    if (norm.isEmpty) return Array.empty[UTF8String]
    val starts = tokenStartsOf(norm)
    val nTok = starts.length
    if (nTok < 2) return Array.empty[UTF8String]
    val out = new Array[UTF8String](nTok - 1)
    var w = 0
    while (w < nTok - 1) {
      val end = if (w + 2 < nTok) starts(w + 2) - 1 else norm.length
      out(w) = UTF8String.fromString(norm.substring(starts(w), end))
      w += 1
    }
    out
  }

  /** Top-token fraction in one pass: max token multiplicity over the
    * token count of the normalized text, 0.0 when empty. Exactly the
    * declarative `aggregate(array_distinct(toks), …)/size(toks)`
    * value (both divide the same exact ints), but O(n) with one hash
    * map instead of O(distinct·n) with a full re-tokenization per
    * distinct token (the HOF lambda re-evaluated the tokenizer
    * subtree each iteration). */
  private[graft] def topTokenFracOf(text: UTF8String): Double = {
    val norm = if (text == null) "" else normalizeStringOf(text)
    if (norm.isEmpty) return 0.0
    val starts = tokenStartsOf(norm)
    val n = starts.length
    val counts = new java.util.HashMap[String, Int]()
    var top = 0
    var i = 0
    while (i < n) {
      val end = if (i + 1 < n) starts(i + 1) - 1 else norm.length
      val c = counts.merge(norm.substring(starts(i), end), 1,
        Integer.sum)
      if (c > top) top = c
      i += 1
    }
    top.toDouble / n.toDouble
  }

  case class TopTokenFrac(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = false

    // eval, not nullSafeEval: null text → 0.0 like the declarative
    // when(size>0, …).otherwise(0.0) formulation
    override def eval(input: InternalRow): Any =
      topTokenFracOf(child.eval(input).asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val expr = ctx.addReferenceObj("topTokFrac", this,
        classOf[TopTokenFrac].getName)
      val c = child.genCode(ctx)
      ev.copy(isNull = FalseLiteral, code =
        code"""
          |${c.code}
          |double ${ev.value} = $expr.fracOf(${c.isNull} ? null :
          |  (org.apache.spark.unsafe.types.UTF8String) ${c.value});
          """.stripMargin)
    }

    /** codegen entry point (public for generated code). */
    def fracOf(v: UTF8String): Double = VectorFunctions.topTokenFracOf(v)

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class WordBigrams(child: Expression) extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false

    // eval, not nullSafeEval: null text → [] like the declarative form
    override def eval(input: InternalRow): Any =
      ArrayData.toArrayData(
        wordBigramsOf(child.eval(input).asInstanceOf[UTF8String]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val expr = ctx.addReferenceObj("bigrams", this,
        classOf[WordBigrams].getName)
      val c = child.genCode(ctx)
      ev.copy(isNull = FalseLiteral, code =
        code"""
          |${c.code}
          |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          |    $expr.bigramsOf(${c.isNull} ? null :
          |      (org.apache.spark.unsafe.types.UTF8String) ${c.value}));
          """.stripMargin)
    }

    /** codegen entry point (public for generated code). */
    def bigramsOf(v: UTF8String): Array[UTF8String] =
      VectorFunctions.wordBigramsOf(v)

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** One-pass word-k-shingle extraction: normalize, then each k-token
    * window as one string, first-occurrence-ordered distinct. Exactly
    * [[graft.functions.TextFunctions.wordShingles]]' declarative
    * semantics (< k tokens → the whole normalized text as ONE gram,
    * so [""] for empty/null input), but imperative: the builtin HOF
    * formulation re-evaluates its tokenizer subtree once per window
    * position in interpreted eval (HOF lambdas don't cache non-lambda
    * subtrees), turning a 50-token doc into 46 normalize+split+filter
    * passes; this walks the normalized string's token offsets once and
    * emits each gram as one substring. The shingle step sits under
    * decontamination and common-gram scans, so it is hot at corpus
    * scale. */
  case class WordShingles(child: Expression, k: Int)
      extends UnaryExpression {
    require(k >= 1)
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false

    // eval, not nullSafeEval: the declarative formulation maps null
    // text to [""] (concat_ws over a null array), never to null —
    // preserved so every consumer's hashes are unchanged
    override def eval(input: InternalRow): Any =
      ArrayData.toArrayData(
        wordShinglesOf(child.eval(input).asInstanceOf[UTF8String], k))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
        : ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val expr = ctx.addReferenceObj("shingles", this,
        classOf[WordShingles].getName)
      val c = child.genCode(ctx)
      ev.copy(isNull = FalseLiteral, code =
        code"""
          |${c.code}
          |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          |    $expr.shinglesOf(${c.isNull} ? null :
          |      (org.apache.spark.unsafe.types.UTF8String) ${c.value}));
          """.stripMargin)
    }

    /** codegen entry point (public for generated code). */
    def shinglesOf(v: UTF8String): Array[UTF8String] =
      VectorFunctions.wordShinglesOf(v, k)

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** One-pass text canonicalization: lowercase + collapse any whitespace
    * run to a single space + trim. Equivalent to
    * `trim(regexp_replace(lower(x), '\s+', ' '))` but without two regex
    * engine passes — the normalize step sits under every fingerprint/
    * dedup scan, so it is hot at corpus scale. */
  case class NormalizeText(child: Expression) extends UnaryEvalBridge {
    override def dataType: DataType = StringType

    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(
        VectorFunctions.normalizeStringOf(input.asInstanceOf[UTF8String]))

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Character-n-gram set Jaccard of two RAW text columns in one
    * expression: normalize (lowercase, collapse whitespace), hash each
    * n-char window (FNV-1a), sort+dedup, merge-intersect — the exact
    * value the [[graft.operators.Dedup.ngramJaccard]] pipeline assigns
    * a pair, computable as a plain predicate. This is the declarative
    * entry point: `text_jaccard(a.text, b.text, 8) >= t` in a join
    * condition is an O(n²) nested-loop predicate as written, and the
    * opt-in `RewriteJaccardThresholdJoin` optimizer rule replans it as
    * the prefix-filtered equi-join (EXACT recall — unlike the LSH
    * cosine rewrite this is a strict equivalence). Null/empty text →
    * null (no gram set to compare). */
  case class JaccardSim(left: Expression, right: Expression, n: Int)
      extends BinaryEvalBridge {
    require(n >= 1)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any = {
      val sa = charNgramHashesOf(
        normalizeStringOf(a.asInstanceOf[UTF8String]), n,
        distinctSorted = true)
      val sb = charNgramHashesOf(
        normalizeStringOf(b.asInstanceOf[UTF8String]), n,
        distinctSorted = true)
      if (sa == null || sb == null) null
      else {
        val c = mergeIntersectCount(sa, sb)
        java.lang.Double.valueOf(
          c.toDouble / (sa.length + sb.length - c).toDouble)
      }
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  // --- Column-level API -------------------------------------------------

  def cosine_sim(a: Column, b: Column): Column =
    toColumn(CosineSimilarity(toExpression(a), toExpression(b)))
  def simhash64(tokens: Column): Column =
    toColumn(SimHash64(toExpression(tokens)))
  def hyperplane_sig(v: Column, bits: Int): Column =
    toColumn(HyperplaneSignature(toExpression(v), bits))
  def shingle_hashes(text: Column, k: Int): Column =
    toColumn(ShingleHashes(toExpression(text), k))
  def normalize_text(text: Column): Column =
    toColumn(NormalizeText(toExpression(text)))
  def word_shingles(text: Column, k: Int): Column =
    toColumn(WordShingles(toExpression(text), k))
  def word_bigrams(text: Column): Column =
    toColumn(WordBigrams(toExpression(text)))
  def top_token_frac(text: Column): Column =
    toColumn(TopTokenFrac(toExpression(text)))
  def char_ngram_hashes(text: Column, n: Int): Column =
    toColumn(CharNgramHashes(toExpression(text), n))
  def fnv1a64(text: Column): Column =
    toColumn(Fnv1a64Bytes(toExpression(text)))
  def bpe_merge(syms: Column, a: String, b: String): Column =
    toColumn(BpeMergePair(toExpression(syms), a, b))
  def text_stats(text: Column): Column =
    toColumn(TextStats(toExpression(text)))
  def minhash_sig(elems: Column, k: Int): Column =
    toColumn(MinHashSignature(toExpression(elems), k))
  def prefix_grams(gs: Column, hotDf: Map[Long, Long],
      threshold: Double): Column =
    toColumn(PrefixGrams(toExpression(gs), hotDf, threshold))
  def sorted_intersect_count(a: Column, b: Column): Column =
    toColumn(SortedIntersectCount(toExpression(a), toExpression(b)))
  def bucket_pairs(postings: Column, maxBucket: Int,
      threshold: Double): Column =
    toColumn(BucketPairs(toExpression(postings), maxBucket, threshold))
  def verified_bucket_pairs(postings: Column, maxBucket: Int,
      threshold: Double): Column =
    toColumn(VerifiedBucketPairs(toExpression(postings), maxBucket,
      threshold))
  def winnowed_fingerprints(hashes: Column, w: Int): Column =
    toColumn(WinnowedFingerprints(toExpression(hashes), w))
  def capped_pairs(ids: Column, maxBucket: Int): Column =
    toColumn(CappedPairs(toExpression(ids), maxBucket))
  def bitmap_positions(bm: Column): Column =
    toColumn(BitmapPositions(toExpression(bm)))
  def bitmap_andnot(a: Column, b: Column): Column =
    toColumn(BitmapAndNot(toExpression(a), toExpression(b)))
  def flagged_capped_pairs(postings: Column, maxBucket: Int): Column =
    toColumn(FlaggedCappedPairs(toExpression(postings), maxBucket))
  def hamming_pairs(postings: Column, maxBucket: Int,
      maxHamming: Int): Column =
    toColumn(HammingPairs(toExpression(postings), maxBucket, maxHamming))
  def cosine_bucket_best(postings: Column, maxBucket: Int): Column =
    toColumn(CosineBucketBest(toExpression(postings), maxBucket))
  def pq_encode(emb: Column, codebooks: Seq[Seq[Seq[Double]]],
      halfNorms: Seq[Seq[Double]]): Column =
    toColumn(PqEncode(toExpression(emb), codebooks, halfNorms))
  def pq_adc(qEmb: Column, codes: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Column =
    toColumn(PqAdc(toExpression(qEmb), toExpression(codes), codebooks))
  def broadcast_jaccard(a: Column, b: Column,
      sets: org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[Long, Array[Long]]]): Column =
    toColumn(BroadcastJaccard(toExpression(a), toExpression(b), sets))
  def broadcast_member_count(arr: Column,
      members: org.apache.spark.broadcast.Broadcast[
        scala.collection.immutable.Set[
          org.apache.spark.unsafe.types.UTF8String]]): Column =
    toColumn(BroadcastMemberCount(toExpression(arr), members))

  def long_set_filter(arr: Column,
      members: org.apache.spark.broadcast.Broadcast[
        scala.collection.immutable.Set[Long]]): Column =
    toColumn(LongSetFilter(toExpression(arr), members))
  def broadcastLongSet(
      spark: org.apache.spark.sql.SparkSession, longs: Seq[Long])
      : org.apache.spark.broadcast.Broadcast[
        scala.collection.immutable.Set[Long]] =
    spark.sparkContext.broadcast(longs.toSet)
  /** Build the executor broadcast for [[broadcast_member_count]]:
    * strings converted ONCE, driver-side, to UTF8String keys. */
  def broadcastStringSet(
      spark: org.apache.spark.sql.SparkSession, strings: Seq[String])
      : org.apache.spark.broadcast.Broadcast[
        scala.collection.immutable.Set[
          org.apache.spark.unsafe.types.UTF8String]] =
    spark.sparkContext.broadcast(
      strings.iterator
        .map(org.apache.spark.unsafe.types.UTF8String.fromString)
        .toSet)
  def char_ngram_set(text: Column, n: Int): Column =
    toColumn(CharNgramHashes(toExpression(text), n, distinctSorted = true))
  def text_jaccard(a: Column, b: Column, n: Int): Column =
    toColumn(JaccardSim(toExpression(a), toExpression(b), n))

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
      v.toString.toInt
    case other => sys.error(s"$what must be a literal, got $other")
  }

  /** Name → builder for every custom expression exposed to SQL;
    * `graft.GraftExtensions` injects each into every session. */
  val sqlFunctionBuilders: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
      "simhash64" -> (es => SimHash64(es.head)),
      "hyperplane_sig" ->
        (es => HyperplaneSignature(es(0), litInt(es(1), "bits"))),
      "shingle_hashes" ->
        (es => ShingleHashes(es(0), litInt(es(1), "k"))),
      "char_ngram_hashes" ->
        (es => CharNgramHashes(es(0), litInt(es(1), "n"))),
      "fnv1a64" -> (es => Fnv1a64Bytes(es.head)),
      "normalize_text" -> (es => NormalizeText(es.head)),
      "text_stats" -> (es => TextStats(es.head)),
      "minhash_sig" ->
        (es => MinHashSignature(es(0), litInt(es(1), "k"))),
      "text_jaccard" ->
        (es => JaccardSim(es(0), es(1), litInt(es(2), "n"))),
      "winnowed_fingerprints" ->
        (es => WinnowedFingerprints(es(0), litInt(es(1), "w"))),
      // the bucket generators — a SQL user can build the same banded
      // dedup pipelines the Scala operators do
      "capped_pairs" ->
        (es => CappedPairs(es(0), litInt(es(1), "maxBucket"))),
      // decode/difference halves of the builtin bitmap_* aggregate
      // family (construct/count/or exist; positions/andnot don't)
      "bitmap_positions" -> (es => BitmapPositions(es(0))),
      "bitmap_andnot" -> (es => BitmapAndNot(es(0), es(1))),
      "hamming_pairs" ->
        (es => HammingPairs(es(0), litInt(es(1), "maxBucket"),
          litInt(es(2), "maxHamming"))),
      "cosine_bucket_best" ->
        (es => CosineBucketBest(es(0), litInt(es(1), "maxBucket"))),
      // composed text pipelines (Column compositions of builtins +
      // custom exprs — registered by eagerly converting the column
      // tree to an analyzable expression, not the deferred wrapper)
      "lang_id" -> (es =>
        org.apache.spark.sql.graft.bridge.toAnalyzableExpression(
          graft.functions.TextFunctions.langId(toColumn(es(0))))),
      "quality_score" -> (es =>
        org.apache.spark.sql.graft.bridge.toAnalyzableExpression(
          graft.functions.TextFunctions.qualityScore(toColumn(es(0))))),
      "tokens" -> (es =>
        org.apache.spark.sql.graft.bridge.toAnalyzableExpression(
          graft.functions.TextFunctions.tokens(toColumn(es(0))))),
      "token_chunks" -> (es =>
        org.apache.spark.sql.graft.bridge.toAnalyzableExpression(
          graft.functions.TextFunctions.tokenChunks(toColumn(es(0)),
            litInt(es(1), "chunkTokens"), litInt(es(2), "overlap")))),
      "word_bigrams" -> (es =>
        org.apache.spark.sql.graft.bridge.toAnalyzableExpression(
          graft.functions.TextFunctions.wordBigrams(toColumn(es(0))))),
      "word_shingles" ->
        (es => WordShingles(es(0), litInt(es(1), "k"))),
      "pii_redact" -> (es =>
        org.apache.spark.sql.graft.bridge.toAnalyzableExpression(
          graft.functions.PiiFunctions.redact(toColumn(es(0))))),
      "dup_bigram_frac" -> (es =>
        org.apache.spark.sql.graft.bridge.toAnalyzableExpression(
          graft.functions.TextFunctions.dupBigramFrac(toColumn(es(0))))),
      "top_token_frac" -> (es =>
        org.apache.spark.sql.graft.bridge.toAnalyzableExpression(
          graft.functions.TextFunctions.topTokenFrac(toColumn(es(0))))),
      // aggregates: the analyzer wraps a bare AggregateFunction into
      // an AggregateExpression, so the same builder registry works
      "bounded_min_collect" ->
        (es => BoundedMinCollect(es(0), litInt(es(1), "max"))),
      "misra_gries" ->
        (es => MisraGriesSketch(es(0), litInt(es(1), "capacity"))))
}
