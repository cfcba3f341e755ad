package graft

import graft.functions.{CosineSimilarity, SortedIntersectCount, SquaredL2}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck properties for the custom Catalyst expressions,
  * evaluated at the expression level (interpreted eval; codegen
  * parity is covered by the query-level suites which run through
  * whole-stage codegen). `sq_dist` is also evaluated through a
  * DataFrame in a session that forbids the interpreted fallback, so
  * its generated code is compared too.
  */
object ExpressionProps extends Properties("graft.expressions") {

  private def cosEval(a: Array[Double], b: Array[Double]): Any =
    CosineSimilarity(
      Literal(ArrayData.toArrayData(a), ArrayType(DoubleType)),
      Literal(ArrayData.toArrayData(b), ArrayType(DoubleType))).eval(null)

  private def isectEval(a: Array[Long], b: Array[Long]): Int =
    SortedIntersectCount(
      Literal(ArrayData.toArrayData(a), ArrayType(LongType)),
      Literal(ArrayData.toArrayData(b), ArrayType(LongType)))
      .eval(null).asInstanceOf[Int]

  private val vec: Gen[Array[Double]] =
    Gen.choose(1, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-10.0, 10.0)).map(_.toArray))
      .suchThat(v => v.exists(_ != 0.0))

  property("cosine is bounded and symmetric") = Prop.forAll(vec, vec) { (a, b0) =>
    val b = b0.take(a.length).padTo(a.length, 1.0)
    val ab = cosEval(a, b).asInstanceOf[Double]
    val ba = cosEval(b, a).asInstanceOf[Double]
    math.abs(ab) <= 1.0 + 1e-9 && math.abs(ab - ba) < 1e-12
  }

  property("self-cosine is 1") = Prop.forAll(vec) { a =>
    math.abs(cosEval(a, a).asInstanceOf[Double] - 1.0) < 1e-9
  }

  property("length mismatch yields null (HOF parity)") =
    Prop.forAll(vec, vec) { (a, b) =>
      (a.length != b.length) ==> (cosEval(a, b) == null)
    }

  property("scale invariance: cos(ka, b) = cos(a, b) for k > 0") =
    Prop.forAll(vec, Gen.choose(0.1, 100.0)) { (a, k) =>
      val scaled = a.map(_ * k)
      math.abs(cosEval(scaled, a).asInstanceOf[Double] - 1.0) < 1e-9
    }

  // ---- squared L2 ----

  private val l2Elem: Gen[java.lang.Double] = Gen.frequency(
    40 -> Gen.choose(-10.0, 10.0).map(Double.box),
    1 -> Gen.const(null), 1 -> Gen.const(Double.NaN),
    1 -> Gen.const(Double.PositiveInfinity),
    1 -> Gen.const(Double.NegativeInfinity), 1 -> Gen.const(-0.0))

  private val l2Vec: Gen[Seq[java.lang.Double]] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(Seq.empty),
    12 -> Gen.choose(1, 64).flatMap(Gen.listOfN(_, l2Elem)))

  // b mostly matches a's length, so most pairs are non-NULL
  private val l2Pair: Gen[(Seq[java.lang.Double], Seq[java.lang.Double])] =
    for {
      a <- l2Vec
      b <- Gen.frequency(1 -> l2Vec,
        3 -> Gen.listOfN(Option(a).fold(0)(_.length), l2Elem))
    } yield (a, b)

  private def l2Literal(v: Seq[java.lang.Double]): Literal =
    Literal(if (v == null) null
            else new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray[Any]),
            ArrayType(DoubleType))

  // generated code that fails to compile throws instead of silently
  // running the interpreted path
  private lazy val codegenOnly = {
    val s = SparkSpec.session.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  // ARRAY<FLOAT> copies of each pair (af, bf) check the implicit cast:
  // the kernel must equal the HOF over the columns widened to
  // ARRAY<DOUBLE>, never read 4-byte elements as doubles.
  private def floats(v: Seq[java.lang.Double]): Seq[java.lang.Float] =
    if (v == null) null
    else v.map(d => if (d == null) null else java.lang.Float.valueOf(d.floatValue))

  property("sq_dist is bit-identical to the HOF form, interpreted and codegen'd") =
    Prop.forAllNoShrink(Gen.choose(1, 30).flatMap(Gen.listOfN(_, l2Pair))) { pairs =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{FloatType, StructField, StructType}
      val spark = codegenOnly
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType)),
        StructField("af", ArrayType(FloatType)), StructField("bf", ArrayType(FloatType))))
      // an RDD source keeps the projection out of local-relation
      // constant folding, so the kernel runs in whole-stage codegen
      val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
        Row(i.toLong, a, b, floats(a), floats(b)) }
      val wide = ArrayType(DoubleType)
      val got = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("id"),
          graft.functions.VectorOps.sqDist(col("a"), col("b")),
          VectorReference.sqDistHof(col("a"), col("b")),
          graft.functions.VectorOps.sqDist(col("af"), col("bf")),
          VectorReference.sqDistHof(col("af").cast(wide), col("bf").cast(wide)))
        .collect().sortBy(_.getLong(0))
      // Raw bits, except that every NaN is one NaN (doubleToLongBits):
      // the JVM leaves the sign and payload of a NaN result open, and
      // when a propagated NaN meets a generated one (Inf − Inf) the JIT
      // may commute the add and return either.
      def bits(r: Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
      def bitsOf(v: Any): Option[Long] =
        Option(v).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))
      val bad = got.filter { r =>
        val (a, b) = pairs(r.getLong(0).toInt)
        val interpreted = bitsOf(SquaredL2(l2Literal(a), l2Literal(b)).eval(null))
        bits(r, 1) != bits(r, 2) || interpreted != bits(r, 2) || bits(r, 3) != bits(r, 4)
      }
      (got.length == pairs.length && bad.isEmpty) :|
        s"rows ${got.length}/${pairs.length}; mismatches: ${bad.mkString("; ")}"
    }

  private val sortedLongs: Gen[Array[Long]] =
    Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct.sorted.toArray)

  property("sorted_intersect_count equals set intersection") =
    Prop.forAll(sortedLongs, sortedLongs) { (a, b) =>
      isectEval(a, b) == a.toSet.intersect(b.toSet).size
    }

  property("intersect is commutative and bounded") =
    Prop.forAll(sortedLongs, sortedLongs) { (a, b) =>
      val ab = isectEval(a, b)
      ab == isectEval(b, a) && ab <= math.min(a.length, b.length)
    }

  // ---- bitset encode / intersect ----

  private val asciiStr: Gen[String] =
    Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(('a' to 'e') :+ ' ')).map(_.mkString))

  private def ngramsEval(s: String, n: Int): Seq[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.IntegerType
    graft.functions.CharNgrams(
      Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType),
      Literal(n, IntegerType)).eval(null)
      .asInstanceOf[ArrayData].toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.toString).toSeq
  }

  property("char_ngrams equals distinct sliding substrings in first-occurrence order") =
    Prop.forAll(asciiStr, Gen.choose(1, 4)) { (s, n) =>
      val expected =
        if (s.length < n) Seq.empty[String]
        else (0 to s.length - n).map(i => s.substring(i, i + n)).distinct
      ngramsEval(s, n) == expected
    }

  property("char_ngrams with n < 1 returns empty instead of throwing") =
    Prop.forAll(asciiStr, Gen.choose(-3, 0)) { (s, n) =>
      ngramsEval(s, n) == Seq.empty[String]
    }

  private def shinglesEval(s: String, k: Int): Seq[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.IntegerType
    graft.functions.WordShingles(
      Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType),
      Literal(k, IntegerType)).eval(null)
      .asInstanceOf[ArrayData].toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.toString).toSeq
  }

  private val tokenStr: Gen[String] =
    Gen.listOf(Gen.oneOf("aa", "b", "cc", "d", "", "ee"))
      .map(_.mkString(" "))

  property("word_shingles equals distinct sliding k-token windows in order") =
    Prop.forAll(tokenStr, Gen.choose(1, 3)) { (s, k) =>
      val toks = s.split(" ", -1).toSeq
      val expected =
        if (toks.length < k) Seq.empty[String]
        else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" ")).distinct
      shinglesEval(s, k) == expected
    }

  property("word_shingles with k < 1 returns empty instead of throwing") =
    Prop.forAll(tokenStr, Gen.choose(-2, 0)) { (s, k) =>
      shinglesEval(s, k) == Seq.empty[String]
    }

  private def bitsetOf(idxs: Array[Int], nwords: Int): ArrayData = {
    import org.apache.spark.sql.types.IntegerType
    graft.functions.BitsetFromIndices(
      Literal(ArrayData.toArrayData(idxs), ArrayType(IntegerType)),
      Literal(nwords, IntegerType)).eval(null).asInstanceOf[ArrayData]
  }

  property("bitset encode + popcount-AND equals set intersection size") =
    Prop.forAll(Gen.listOf(Gen.choose(0, 200)), Gen.listOf(Gen.choose(0, 200))) {
      (a, b) =>
        val nwords = 4 // 256 bits covers indices 0..200
        val expected = a.toSet.intersect(b.toSet).size
        val inter = graft.functions.BitmapIntersectCount(
          Literal(bitsetOf(a.distinct.toArray, nwords), ArrayType(LongType)),
          Literal(bitsetOf(b.distinct.toArray, nwords), ArrayType(LongType)))
          .eval(null).asInstanceOf[Int]
        inter == expected
    }

  // ---- bounded_levenshtein vs the reference quadratic DP ----

  private def referenceLev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) =
        if (a(i - 1) == b(j - 1)) d(i - 1)(j - 1)
        else 1 + math.min(math.min(d(i - 1)(j), d(i)(j - 1)), d(i - 1)(j - 1))
    d(a.length)(b.length)
  }

  property("bounded_levenshtein equals full DP when within threshold, -1 beyond") =
    Prop.forAll(asciiStr, asciiStr, Gen.choose(0, 25)) { (a, b, k) =>
      val expected = referenceLev(a, b)
      val got = graft.functions.BoundedLevenshtein.compute(
        a.toCharArray, b.toCharArray, k)
      if (expected <= k) got == expected else got == -1
    }

  property("bounded_levenshtein is symmetric and 0 iff equal") =
    Prop.forAll(asciiStr, asciiStr) { (a, b) =>
      val k = 50
      val ab = graft.functions.BoundedLevenshtein.compute(a.toCharArray, b.toCharArray, k)
      val ba = graft.functions.BoundedLevenshtein.compute(b.toCharArray, a.toCharArray, k)
      ab == ba && ((ab == 0) == (a == b))
    }

  // ---- code-point semantics: supplementary-plane input must count
  //      one edit per CODE POINT, not per UTF-16 unit (ADVICE r2) ----

  private val cpStr: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "b", "c", "😀", "😁",
      "𝔞", "一")).map(_.mkString)

  private def referenceLevCp(a: Array[Int], b: Array[Int]): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) =
        if (a(i - 1) == b(j - 1)) d(i - 1)(j - 1)
        else 1 + math.min(math.min(d(i - 1)(j), d(i)(j - 1)), d(i - 1)(j - 1))
    d(a.length)(b.length)
  }

  property("bounded_levenshtein counts code points on surrogate pairs") =
    Prop.forAll(cpStr, cpStr, Gen.choose(0, 10)) { (a, b, k) =>
      val acp = graft.functions.BoundedLevenshtein.codePointsOf(a)
      val bcp = graft.functions.BoundedLevenshtein.codePointsOf(b)
      val expected = referenceLevCp(acp, bcp)
      val got = graft.functions.BoundedLevenshtein.compute(acp, bcp, k)
      if (expected <= k) got == expected else got == -1
    }

  property("lev('', single emoji) is exactly 1 code point") = Prop.protect {
    val e = graft.functions.BoundedLevenshtein.codePointsOf("😀")
    graft.functions.BoundedLevenshtein.compute(Array.empty[Int], e, 1) == 1
  }

  // ---- hyperplane signatures (embedding LSH) ----

  private val planes16 = graft.functions.HyperplaneSig.planes(32, 16, seed = 7L)

  private def sigEval(v: Array[Double]): Long =
    graft.functions.HyperplaneSig(
      Literal(ArrayData.toArrayData(v), ArrayType(DoubleType)), planes16)
      .eval(null).asInstanceOf[Long]

  private val vec16: Gen[Array[Double]] =
    Gen.listOfN(16, Gen.choose(-10.0, 10.0)).map(_.toArray)
      .suchThat(v => v.exists(x => math.abs(x) > 1e-6))

  // ---- bloom membership probe (semi-join reduction) ----

  property("bloom probe has no false negatives over inserted longs") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))) { keys =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(
        math.max(keys.size.toLong, 1L), 0.03)
      keys.foreach(bf.putLong)
      val expr = graft.functions.BloomMightContain(
        Literal(0L, LongType), graft.functions.BloomMightContain.serialize(bf))
      keys.forall { k =>
        graft.functions.BloomMightContain(Literal(k, LongType), expr.bytes)
          .eval(null).asInstanceOf[Boolean]
      }
    }

  // --- MinHashSig / WindowHashes: the one-pass expressions must be
  // bit-identical to the reference md5 arithmetic the DuckDB oracles
  // mirror (conv(substring(md5(x),1,n),16,10) + mod-p permutations).

  private val token: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  property("minhash_sig equals the reference md5-fold permutation minima") =
    Prop.forAll(Gen.nonEmptyListOf(token)) { toks =>
      val shingles = toks.distinct.toArray
      val got = graft.functions.MinHashSig(
          Literal(ArrayData.toArrayData(shingles.map(
            org.apache.spark.unsafe.types.UTF8String.fromString)),
            ArrayType(org.apache.spark.sql.types.StringType)), 18)
        .eval(null).asInstanceOf[ArrayData].toLongArray.toSeq
      val p = graft.functions.MinHashLsh.Prime
      val expected = graft.functions.MinHashLsh.permConstants(18).map {
        case (a, b) =>
          shingles.map { s =>
            val h = java.lang.Long.parseLong(md5Hex(s).take(7), 16)
            (h * a + b) % p
          }.min
      }
      got == expected
    }

  property("window_hashes equals the reference per-window md5 folds") =
    Prop.forAll(Gen.nonEmptyListOf(token), Gen.choose(1, 4)) { (toks, k) =>
      val arr = toks.toArray
      val got = graft.functions.WindowHashes(
          Literal(ArrayData.toArrayData(arr.map(
            org.apache.spark.unsafe.types.UTF8String.fromString)),
            ArrayType(org.apache.spark.sql.types.StringType)),
          Literal(k, org.apache.spark.sql.types.IntegerType))
        .eval(null).asInstanceOf[ArrayData].toLongArray.toSeq
      val expected =
        if (arr.length < k) Seq.empty[Long]
        else arr.sliding(k).map(w =>
          java.lang.Long.parseLong(md5Hex(w.mkString(" ")).take(15), 16)).toSeq
      got == expected
    }

  property("hyperplane signature is invariant under positive scaling") =
    Prop.forAll(vec16, Gen.choose(0.01, 100.0)) { (v, c) =>
      sigEval(v) == sigEval(v.map(_ * c))
    }

  property("hyperplane signature flips every decisive bit under negation") =
    Prop.forAll(vec16) { v =>
      // sign(−v·p) = ¬sign(v·p) except for exact-zero projections,
      // which have measure zero for continuous inputs; tolerate them
      // by checking only planes with a clearly nonzero projection.
      val s = sigEval(v)
      val sNeg = sigEval(v.map(-_))
      (0 until 32).forall { p =>
        val dot = planes16(p).zip(v).map { case (a, b) => a * b }.sum
        math.abs(dot) < 1e-9 ||
          (((s >> p) & 1L) != ((sNeg >> p) & 1L))
      }
    }
}
