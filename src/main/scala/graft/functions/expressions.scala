package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, JsonToStructs, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.catalyst.trees.TreePattern.TreePattern
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{ArrayData, BadRecordException, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot LLM-data kernels.
  *
  * The higher-order-function formulations (see TextFunctions /
  * VectorFunctions) are correct but evaluate their lambdas interpreted,
  * per array element — at sf0.1 the simhash HOF alone cost >2 min. These
  * native expressions run the same math as a tight JVM loop (cosine gets
  * full whole-stage codegen via doGenCode); they turned the four hot
  * queries from ~190 s to seconds.
  *
  * Numerics note: CosineSimilarity accumulates left-to-right in double,
  * which is bit-identical to the DuckDB oracle's sequential
  * list_sum(list_transform(...)) fold — required for hash-exact parity.
  */

/** cosine(a, b) over two array<float> columns, in double precision. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xa = x.getFloat(i).toDouble
      val xb = y.getFloat(i).toDouble
      dot += xa * xb; na += xa * xa; nb += xb * xb
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // all locals get ctx.freshName: fixed names collide with variables of
  // the enclosing whole-stage-codegen scope (an outer `int i` loop made
  // janino reject the class and the whole plan fell back to interpreted)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val xa = ctx.freshName("xa"); val xb = ctx.freshName("xb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xa = (double) $a.getFloat($i);
         |  double $xb = (double) $b.getFloat($i);
         |  $dot += $xa * $xb; $na += $xa * $xa; $nb += $xb * $xb;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact MILLI-QUANTIZED integer dot product of two float arrays:
  * Σ ⌊1000·aᵢ⌋·⌊1000·bᵢ⌋ as a long — the `sim_mips_topk` quantization
  * discipline as ONE codegen'd kernel instead of a transform +
  * zip_with + aggregate HOF chain (which evaluates interpreted and
  * allocates two long arrays per comparison; the semantic-dedup pair
  * join runs millions of these). floor matches Spark's FLOOR(double)
  * and DuckDB's floor bit-for-bit on the float-widened inputs, so the
  * oracle twin stays list_sum(list_transform(...)) over the same
  * floors. */
case class QuantizedDotMilli(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "quantized_dot_milli"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val qa = math.floor(x.getFloat(i).toDouble * 1000.0).toLong
      val qb = math.floor(y.getFloat(i).toDouble * 1000.0).toLong
      s += qa * qb
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val i = ctx.freshName("i"); val qa = ctx.freshName("qa"); val qb = ctx.freshName("qb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $qa = (long) java.lang.Math.floor((double) $a.getFloat($i) * 1000.0);
         |  long $qb = (long) java.lang.Math.floor((double) $b.getFloat($i) * 1000.0);
         |  $s += $qa * $qb;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Shared 60-bit token hash: first 15 hex chars of md5, i.e. the
  * big-endian value of the digest's first 8 bytes shifted right 4.
  * md5 is the one hash both engines compute byte-identically, so every
  * signature built on it is DuckDB-replayable as
  * `('0x' || substring(md5(x), 1, 15))::BIGINT` — which is what lets
  * the MinHash/SimHash pair lists carry FULL hash-gated oracles
  * instead of rows-only checks. 60 bits (not 64) keeps the value
  * non-negative on both sides and keeps the oracle's mod-2^64 affine
  * remix inside HUGEINT range. ~3× slower per byte than xxh64 —
  * irrelevant next to the candidate joins these signatures feed. */
private[graft] object PortableHash {
  def md5hash60(s: UTF8String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h >>> 4
  }
}

/** 64-bit SimHash of an array<string> token bag: one md5-derived 60-bit
  * hash per token ([[PortableHash.md5hash60]]), ±1 vote per bit, sign
  * vector packed into a long (bits 60-63 always 0). Frequency-weighted
  * (each occurrence votes). */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = PortableHash.md5hash60(arr.getUTF8String(i))
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
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature (k values) of an array<string> shingle set.
  * One md5-derived 60-bit hash per shingle ([[PortableHash.md5hash60]]);
  * the k family members are affine remixes g_i(h) = A_i·h + B_i (A_i
  * odd, signed-wraparound arithmetic, signed min) — the standard
  * one-hash MinHash trick, O(n + k·n) cheap ops instead of k·n string
  * hashes. The A/B constants come from splitmix64 and are inlined into
  * the DuckDB oracle (DedupQueries.minhashMixers), which replays the
  * same remix in HUGEINT mod-2^64 arithmetic. Empty/null input → null
  * (callers drop empty docs). */
object MinHashSignature {
  /** The k (A_i odd, B_i) splitmix64-derived affine mixers — the one
    * definition both the expression and the DuckDB oracle inline. */
  def mixers(k: Int): (Array[Long], Array[Long]) = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val a = Array.tabulate(k)(i => splitmix(i.toLong * 2 + 1) | 1L)
    val b = Array.tabulate(k)(i => splitmix(i.toLong * 2 + 2))
    (a, b)
  }
}

case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  // deterministic affine mixers derived from splitmix64 (shared with
  // the DuckDB oracle via MinHashSignature.mixers — single source)
  private lazy val (mulA, addB) = MinHashSignature.mixers(k)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = PortableHash.md5hash60(arr.getUTF8String(i))
        var j = 0
        while (j < k) {
          val g = mulA(j) * h + addB(j)
          if (g < mins(j)) mins(j) = g
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct 3-token shingles of an array<string>, first-occurrence
  * order — the single-pass kernel for the interpreted
  * transform/concat_ws HOF chain (which re-ran lambdas per position).
  * <3 tokens → empty array. Null-token divergence from the HOF chain:
  * concat_ws SKIPS nulls ("a c") while this kernel renders them as ""
  * ("a  c") — identical to NGrams, which is what makes the
  * ShingleFusion rewrite array_distinct(ngrams(t,3)) → shingles3(t)
  * semantics-preserving. All in-repo callers tokenize with split(),
  * which never yields null elements, so the divergence is unobservable
  * here; it is a deliberate spec for null-carrying inputs. */
case class Shingles3(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles3"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    def at(i: Int): UTF8String =
      if (toks.isNullAt(i)) UTF8String.EMPTY_UTF8 else toks.getUTF8String(i)
    val seen = new java.util.LinkedHashSet[UTF8String](n)
    var i = 0
    while (i <= n - 3) {
      seen.add(UTF8String.concatWs(space, at(i), at(i + 1), at(i + 2)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ALL n-token grams of an array<string> in position order — NOT
  * deduplicated (Shingles3 gives the distinct set; repeated-span
  * analysis needs every occurrence). `n` is a plan-time constant, so
  * the kernel is a single tight loop per row; <n tokens → empty array.
  * Null tokens render as "" (same spec as Shingles3 — see its note on
  * the divergence from concat_ws/array_to_string, which skip nulls;
  * split()-tokenized input never carries nulls).
  * DuckDB twin on null-free arrays: array_to_string(t[i:i+n-1], ' ')
  * over unnest(range(1, len(t)-n+2)). */
case class NGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"ngrams: n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngrams"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](len - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) {
        parts(j) =
          if (toks.isNullAt(i + j)) UTF8String.EMPTY_UTF8 else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(space, parts.toIndexedSeq: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Custom Catalyst Generator (the UDTF extension point — SURVEY §2.3
  * UDF/UDAF/UDTF row): explodes a packed document into its per-chunk
  * slices. For a doc occupying global token interval
  * [start, start+n) under a fixed chunk `budget`, emits one row per
  * overlapped chunk: (chunk_id, slice_start, slice_len) where
  * slice_start is the DOC-LOCAL token offset of the part landing in
  * that chunk — exactly the shard map a pretraining loader needs to
  * assemble fixed-budget sequences from variable-length docs.
  *
  * A Generator (not explode-over-array) because the output is computed,
  * not stored: building the slice array first would materialize an
  * array<struct> per row just to immediately explode it. Output rows
  * per input row are bounded by n/budget + 1 — a bounded, data-
  * proportional explode, safe at any scale. */
case class TokenChunkSlices(start: Expression, n: Expression, budget: Expression)
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(start, n, budget)
  override def prettyName: String = "token_chunk_slices"

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_id", LongType, nullable = false),
    StructField("slice_start", LongType, nullable = false),
    StructField("slice_len", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s0 = start.eval(input); val n0 = n.eval(input); val b0 = budget.eval(input)
    if (s0 == null || n0 == null || b0 == null) return Nil
    val st = s0.asInstanceOf[Long]
    val nt = n0.asInstanceOf[Long]
    val b = b0.asInstanceOf[Long]
    if (nt <= 0 || b <= 0) return Nil
    val first = st / b
    val last = (st + nt - 1) / b
    (first to last).map { c =>
      val lo = math.max(c * b, st)
      val hi = math.min((c + 1) * b, st + nt)
      InternalRow(c, lo - st, hi - lo)
    }
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(start = cs(0), n = cs(1), budget = cs(2))
}

/** One JSON parse per text line for the line-oriented ingest paths
  * (IotPipeline.readSensors and its streaming twin). Emits, per
  * non-blank line, `is_object` (the line is a well-formed JSON object)
  * and `parsed` (the line read as `schema`) — exactly what the pair
  * `from_json(line, map<string,string>).isNotNull` and
  * `from_json(line, schema)` return. Lines that are null or made only of
  * whitespace (Python's `str.isspace` set, not just the spaces `trim`
  * strips) emit no row.
  *
  * Fast path: Spark's own JacksonParser for `schema`, run once over a
  * String-backed Jackson parser — no per-line InputStreamReader. A line
  * it parses into a row without error is an object, and that row is what
  * `from_json` returns. String-backed, not byte-backed, on purpose: under
  * `spark.sql.json.enableExactStringParsing` a byte-backed parser keeps
  * a nested object in a string field as raw text, where `from_json`
  * re-serializes it. Every other line (malformed, not an object, a field
  * of the wrong type, an unparseable timestamp) goes through the two
  * original JsonToStructs expressions, so both outputs equal the old ones
  * by construction and the slow path costs only on bad lines.
  *
  * A Generator, not a struct-valued expression: Catalyst keeps filters
  * on a Generate's output above it, so a filter on `is_object` or on a
  * parsed field can never be pushed below the projection as another
  * copy of the parse — each job parses a line exactly once. */
case class ParseJsonLine(child: Expression, schema: StructType,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with Generator with TimeZoneAwareExpression with CodegenFallback {
  override def prettyName: String = "parse_json_line"
  // TimeZoneAwareExpression's node patterns shadow Generator's; without
  // GENERATOR the analyzer never extracts this into a Generate
  override def nodePatternsInternal(): Seq[TreePattern] = Seq(TreePattern.GENERATOR)

  override def elementSchema: StructType = StructType(Seq(
    StructField("is_object", BooleanType, nullable = false),
    StructField("parsed", slowParsed.dataType)))

  @transient private lazy val fastParser = new JacksonParser(schema,
    new JSONOptions(Map.empty[String, String], timeZoneId.get,
      SQLConf.get.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD)),
    allowArrayAsStructs = false)
  @transient private lazy val slowIsObject =
    JsonToStructs(MapType(StringType, StringType), Map.empty, child, timeZoneId)
  @transient private lazy val slowParsed = JsonToStructs(schema, Map.empty, child, timeZoneId)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val line = child.eval(input)
    if (line == null) return Nil
    val text = line.toString
    if (ParseJsonLine.isBlank(text)) return Nil
    val rows = try fastParser.parse(text, CreateJacksonParser.string, UTF8String.fromString).iterator
      catch { case _: BadRecordException => Iterator.empty }
    if (rows.hasNext) Iterator.single(InternalRow(true, rows.next()))
    else Iterator.single(InternalRow(slowIsObject.eval(input) != null, slowParsed.eval(input)))
  }

  override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ParseJsonLine {
  /** Python's `not line.strip()`: every char is whitespace in the
    * `str.isspace` sense (Java's whitespace, the no-break spaces, NEL). */
  def isBlank(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!(Character.isWhitespace(c) || Character.isSpaceChar(c) || c == '\u0085')) return false
      i += 1
    }
    true
  }
}

/** Column-API entry points + SQL registration for the custom kernels. */
object GraftExpressions {
  import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

  def cosine_similarity(a: Column, b: Column): Column =
    toColumn(CosineSimilarity(toExpression(a), toExpression(b)))
  def quantized_dot_milli(a: Column, b: Column): Column =
    toColumn(QuantizedDotMilli(toExpression(a), toExpression(b)))
  def simhash64(tokens: Column): Column = toColumn(SimHash64(toExpression(tokens)))
  def minhash_signature(shingles: Column, k: Int): Column =
    toColumn(MinHashSignature(toExpression(shingles), k))
  def shingles3(tokens: Column): Column = toColumn(Shingles3(toExpression(tokens)))
  def ngrams(tokens: Column, n: Int): Column = toColumn(NGrams(toExpression(tokens), n))
  def token_chunk_slices(start: Column, n: Column, budget: Column): Column =
    toColumn(TokenChunkSlices(toExpression(start), toExpression(n), toExpression(budget)))
  def parse_json_line(line: Column, schema: StructType): Column =
    toColumn(ParseJsonLine(toExpression(line), schema))

  /** Expose the kernels to SQL users of the session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_similarity",
      es => CosineSimilarity(es.head, es(1)), "builtin")
    reg.createOrReplaceTempFunction("quantized_dot_milli",
      es => QuantizedDotMilli(es.head, es(1)), "builtin")
    reg.createOrReplaceTempFunction("simhash64",
      es => SimHash64(es.head), "builtin")
    reg.createOrReplaceTempFunction("minhash_signature",
      es => MinHashSignature(es.head, 64), "builtin")
    reg.createOrReplaceTempFunction("token_chunk_slices",
      es => TokenChunkSlices(es.head, es(1), es(2)), "builtin")
  }
}
