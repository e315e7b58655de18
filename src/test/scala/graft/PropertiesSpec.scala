package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based checks (SURVEY.md §5 item 3) over the pure cores of the
  * operators — no SparkSession needed, so ScalaCheck can sample freely. */
object OperatorProperties extends Properties("graft") {

  private val hexChar = Gen.oneOf(('0' to '9') ++ ('a' to 'f'))
  private val pixelHex: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n * 8, hexChar)).map(_.mkString)

  private val palette = Set("None", "Black", "White", "Red", "Green", "Blue",
    "Yellow", "Magenta", "Cyan")

  property("pixel count = hexLen/8 and colors are in the lattice alphabet") =
    forAll(pixelHex) { hex =>
      val names = ops.UdfSurface.colorNamesOf(hex)
      names.size == hex.length / 8 &&
        names.forall(n => palette.contains(n) || n.matches("Gray-\\d+-\\d+-\\d+"))
    }

  property("alpha < 0x80 always maps to None") =
    forAll(Gen.listOfN(6, hexChar).map(_.mkString), Gen.choose(0, 0x7f)) {
      (rgb, a) => ops.UdfSurface.colorNamesOf(f"$rgb$a%02x") == Seq("None")
    }

  private def cyclic(period: Int)(a: Int, b: Int): Int =
    math.min(math.abs(a - b), period - math.abs(a - b))

  property("cyclic distance: symmetric, bounded, zero on diagonal (M8/M9)") =
    forAll(Gen.choose(0, 23), Gen.choose(0, 23)) { (a, b) =>
      val d = cyclic(24)(a, b)
      d == cyclic(24)(b, a) && d >= 0 && d <= 12 && cyclic(24)(a, a) == 0
    }

  property("rolling hash stays in [0, 1e9+7) and is deterministic") =
    forAll(Gen.asciiPrintableStr) { s =>
      val m = 1000000007L
      def rh(t: String): Long = t.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % m)
      val h = rh(s)
      h >= 0 && h < m && h == rh(s)
    }

  property("jaccard of identical sets is 1, disjoint is 0") =
    forAll(Gen.nonEmptyListOf(Gen.alphaStr.suchThat(_.nonEmpty))) { xs =>
      val s = xs.toSet
      def j(a: Set[String], b: Set[String]): Double =
        if (a.isEmpty && b.isEmpty) 1.0
        else a.intersect(b).size.toDouble / a.union(b).size
      j(s, s) == 1.0 && j(s, s.map(_ + " suffix")) == 0.0
    }

  property("quantization lattice has exactly 3 levels") = Prop.forAll(
    Gen.choose(0, 255)) { x =>
    val q = if (x < 85) 0 else if (x < 170) 128 else 255
    Set(0, 128, 255).contains(q)
  }

  /** q62's LSH soundness: flipping at most 3 of 16 bits cannot touch all
    * four 4-bit bands (pigeonhole), so every Hamming<=3 pair collides in
    * at least one band bucket — the banding join has perfect recall. */

  private val pair: Gen[(Double, Long)] = for {
    v <- Gen.choose(-1000, 1000).map(_.toDouble / 4)
    id <- Gen.choose(0L, 50L)
  } yield (v, id)

  property("TopKByValue: any partial split merges to global sort-take-k") =
    forAll(Gen.listOf(pair), Gen.choose(1, 5), Gen.choose(0, 100)) {
      (xs, k, cut) =>
        val agg = new functions.TopKByValue(k)
        val (l, r) = xs.splitAt(if (xs.isEmpty) 0 else cut % (xs.size + 1))
        val viaAgg = agg.finish(agg.merge(
          l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
        val expectedMulti = xs.sortBy { case (v, id) => (-v, id) }.take(k)
        viaAgg == expectedMulti
    }

  property("simhash banding: hamming<=3 pairs always share a band") =
    forAll(Gen.choose(0L, 0xffffL),
      Gen.pick(3, 0 until 16).map(_.toList), Gen.choose(0, 3)) {
      (x, bitPositions, nFlips) =>
        val y = bitPositions.take(nFlips).foldLeft(x)((v, b) => v ^ (1L << b))
        val bands = (0 until 4).map(b => ((x >> (4 * b)) & 15, (y >> (4 * b)) & 15))
        java.lang.Long.bitCount(x ^ y) <= 3 && bands.exists(p => p._1 == p._2)
    }

  /** q145's decay core: exact halving per day until the 2^20 floor. */
  private def decayWeight(age: Long): Long =
    1048576L / (1L << math.min(age, 20L))

  property("q145 decay: w(0)=2^20, halves per day, floors at 1, never 0") =
    forAll(Gen.choose(0L, 500L)) { age =>
      val w = decayWeight(age)
      (decayWeight(0L) == 1048576L) &&
        (age >= 20 || decayWeight(age + 1) * 2 == w) &&
        w >= 1L && (age < 20 || w == 1L)
    }

  /** q151's set algebra on the same integer-ppm formulas the query and
    * oracle share: jaccard never exceeds either containment direction,
    * and a genuine subset is contained with ppm EXACTLY 1e6. */
  private val gramSet: Gen[Set[Int]] =
    Gen.nonEmptyListOf(Gen.choose(0, 60)).map(_.toSet)

  property("q151 containment: jaccard <= both directions; subset => exactly 1e6") =
    forAll(gramSet, gramSet) { (a, b) =>
      val inter = (a & b).size.toLong
      val (ga, gb) = (a.size.toLong, b.size.toLong)
      val contA = inter * 1000000L / ga
      val contB = inter * 1000000L / gb
      val jac = inter * 1000000L / (ga + gb - inter)
      // run a ⊆ (a ∪ b) through the SAME intersection formula the query
      // uses — the containment of a within its superset must come out
      // exactly 1e6 via |a ∩ sub|, not by construction
      val sub = a union b
      val subCont = (a & sub).size.toLong * 1000000L / a.size
      // and the superset's reverse containment is < 1e6 whenever b adds
      // grams a lacks
      val revCont = (a & sub).size.toLong * 1000000L / sub.size
      jac <= contA && jac <= contB && subCont == 1000000L &&
        (sub == a || revCont < 1000000L)
    }

  /** q140's banding recall floor: a single flipped bit lands in exactly
    * one 4-bit band, so EXACTLY five of the six bands still agree — the
    * flipped signature remains a MinHash-band candidate. (The former
    * "equal sigs agree on all bands" half compared a signature against
    * itself — a tautology — and was dropped per the round-8 advice.) */
  property("q140 banding: one flipped bit kills exactly one of six bands") =
    forAll(Gen.choose(0L, (1L << 24) - 1), Gen.choose(0, 23)) { (sig, bit) =>
      def bands(s: Long) = (0 until 6).map(k => (s >> (k * 4)) & 15L)
      val flipped = sig ^ (1L << bit)
      val after = bands(sig).zip(bands(flipped)).count(p => p._1 == p._2)
      after == 5
    }

  /** [[graft.functions.DistinctWordGrams]] must equal the composed HOF
    * form it replaced in q167/q174/q181 — tokenize on single space,
    * drop empties, space-join each n-window, distinct. Texts mix words,
    * runs of spaces, and multi-byte UTF-8 (0x20 never occurs inside a
    * UTF-8 sequence — the byte-scan assumption under test). */
  private val wordish: Gen[String] = Gen.oneOf(
    Gen.oneOf("the", "qu-ick", "π∂", "naïve", "的是", "a", "b1"),
    Gen.oneOf(" ", "  ", "   "))
  private val textGen: Gen[String] =
    Gen.listOf(wordish).map(_.mkString(" "))

  property("distinct_word_grams == slice/join/distinct composed form") =
    forAll(textGen, Gen.choose(1, 6)) { (text, n) =>
      val expr = graft.functions.DistinctWordGrams(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(text),
          org.apache.spark.sql.types.StringType), n)
      val got = expr.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.map(_.toString).toSeq
      val w = text.split(" ").filter(_.nonEmpty).toSeq
      val ref =
        if (w.length < n) Seq.empty
        else w.sliding(n).map(_.mkString(" ")).toSeq.distinct
      got == ref
    }

  /** q147's checksum core: a mod-p sum of per-item hashes is invariant
    * under permutation and any regrouping — including reducing each
    * partial mod p before combining, which is exactly what partial
    * aggregation does across shards. */
  property("q147 checksum: permutation- and regrouping-invariant mod p") =
    forAll(Gen.listOf(Gen.choose(0L, 1L << 48)), Gen.choose(0, 64)) {
      (xs, cut) =>
        val p = BigInt(graft.ops.Round9.checksumPrime)
        def ck(ys: List[Long]): BigInt = ys.map(BigInt(_)).sum mod p
        val shuffled = scala.util.Random.javaRandomToRandom(
          new java.util.Random(42)).shuffle(xs)
        val (l, r) = xs.splitAt(if (xs.isEmpty) 0 else cut % (xs.size + 1))
        ck(xs) == ck(shuffled) && ck(xs) == ((ck(l) + ck(r)) mod p)
    }

  /** WinnowedFingerprints must equal the composed explode + sliding-min
    * window + distinct plan it replaced (q77/q204): same md5-prefix
    * lattice, full windows only, per-document dedup. Includes multi-byte
    * codepoints — grams are CODEPOINT windows, not byte windows. */
  property("winnowed_fingerprints == explode/window-min/distinct composed form") = {
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '),
      1 -> Gen.oneOf('的', 'é', 'ß', '是'))
    forAll(Gen.listOf(charGen).map(_.mkString),
      Gen.choose(1, 6), Gen.choose(1, 10)) { (text, k, w) =>
      val expr = graft.functions.WinnowedFingerprints(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(text),
          org.apache.spark.sql.types.StringType), k, w)
      val got = expr.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.map(_.asInstanceOf[Long]).toSet
      // reference: codepoint grams, md5 first-8-hex as long, sliding min
      val cps = text.codePoints().toArray
      val md = java.security.MessageDigest.getInstance("MD5")
      val grams = (0 to cps.length - k).map { i =>
        new String(cps, i, k).getBytes("UTF-8")
      }
      val hs = grams.map { g =>
        val hex = md.digest(g).take(4).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex, 16)
      }
      val ref =
        if (hs.length < w) Set.empty[Long]
        else hs.sliding(w).map(_.min).toSet
      got == ref
    }
  }

  /** q201's HRW core: adding a shard can only steal documents for the
    * NEW shard — it can never move a document between two old shards
    * (argmax over S∪{s'} is either argmax over S or s'). This is the
    * minimal-movement law that makes rendezvous sharding elastic. */
  property("q201 HRW: adding a shard never reassigns between old shards") =
    forAll(Gen.listOfN(17, Gen.choose(Long.MinValue, Long.MaxValue))) {
      hs0 =>
        val hs = hs0.toArray
        val old16 = hs.take(16).indexOf(hs.take(16).max)
        val new17 = hs.indexOf(hs.max)
        new17 == old16 || new17 == 16
    }

  /** q200's Gini core: the exact integer formula is 0 for a uniform
    * distribution, invariant under uniform scaling of all frequencies,
    * and independent of tie ordering among equal frequencies. */
  property("q200 Gini: zero on uniform, scale-invariant, tie-order-free") =
    forAll(Gen.nonEmptyListOf(Gen.choose(1L, 1000L)), Gen.choose(2L, 9L)) {
      (fs, k) =>
        def gini(xs: Seq[Long]): Long = {
          val s = xs.sorted
          val n = s.length.toLong
          val tot = s.sum
          val rkf = s.zipWithIndex.map { case (f, i) => (i + 1) * f }.sum
          (2 * rkf - (n + 1) * tot) * 1000000L / (n * tot)
        }
        val uniform = gini(Seq.fill(fs.length)(7L)) == 0L
        val scaleInv = gini(fs.map(_ * k)) == gini(fs)
        // tie-order freedom: two different stable orders of equal values
        // produce the same rank·f sum by construction of `sorted`; check
        // against a reversed-tie variant computed by hand
        val s = fs.sorted
        val rkf1 = s.zipWithIndex.map { case (f, i) => (i + 1) * f }.sum
        val rkf2 = s.reverse.zipWithIndex
          .map { case (f, i) => (s.length - i).toLong * f }.sum
        uniform && scaleInv && rkf1 == rkf2
    }
}

/** Properties of the shared feature rules ([[ops.Features]]) and of the
  * driver-side multiset test, evaluated through Spark against plain
  * Scala reference implementations. Each sample is one small local
  * frame, so a property costs one or two tiny jobs per sample. */
object FeatureProperties extends Properties("features") {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.types._

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(25)

  private def spark = SparkSpec.session

  private def frame(schema: StructType, rows: Seq[Row]) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ", "\r\n")
  private val word = Gen.oneOf("the", "π∂", "naïve", "的是", "a", "b1", "x.y")
  private val text: Gen[String] = for {
    lead <- Gen.oneOf("", " ", "\t", "\n ")
    ws <- Gen.listOf(Gen.zip(word, sep))
    trail <- Gen.oneOf("", " ", "  ", "\n")
  } yield lead + ws.map { case (w, s) => w + s }.mkString + trail

  property("words and wsTokens == split(\" \") and split(\"\\\\s+\") without empties") =
    forAll(Gen.listOf(text)) { texts =>
      val got = frame(StructType(Seq(StructField("text", StringType))),
          texts.map(Row(_)))
        .select(ops.Features.words(col("text")),
          ops.Features.wsTokens(col("text")))
        .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1)))
        .toSeq
      got == texts.map(t => (t.split(" ").filter(_.nonEmpty).toSeq,
        t.split("\\s+").filter(_.nonEmpty).toSeq))
    }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  property("minhash == driver-side md5 salt-and-chunk signature") =
    forAll(Gen.nonEmptyListOf(Gen.nonEmptyListOf(
        Gen.listOfN(3, word).map(_.mkString(" "))))) { docs =>
      val sets = docs.map(_.distinct)
      val shingles = frame(
        StructType(Seq(StructField("doc_id", LongType),
          StructField("s", StringType))),
        for ((ss, d) <- sets.zipWithIndex; s <- ss) yield Row(d.toLong, s))
      val got = ops.Features.minhash(shingles).collect()
        .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
      val ref = sets.zipWithIndex.map { case (ss, d) =>
        d.toLong -> (0 until 8).map { j =>
          ss.map(s => java.lang.Long.parseLong(
            md5Hex(s"${j / 4}:$s").substring(8 * (j % 4), 8 * (j % 4) + 8),
            16)).min
        }
      }.toMap
      got == ref
    }

  private val coord: Gen[Float] = Gen.frequency(
    6 -> Gen.choose(-2.0f, 2.0f), 1 -> Gen.const(-0.0f),
    1 -> Gen.const(0.0f), 1 -> Gen.choose(-1, 1).map(_ / 1000.0f))

  property("quantize == floor(x * 1000) + offset, negatives and -0.0 included") =
    forAll(Gen.listOf(Gen.listOf(coord))) { vecs =>
      val got = frame(
        StructType(Seq(StructField("e", ArrayType(FloatType, false)))),
        vecs.map(v => Row(v)))
        .select(ops.Features.quantize(col("e"), 0),
          ops.Features.quantize(col("e"), 1000))
        .collect().map(r => (r.getSeq[Long](0), r.getSeq[Long](1))).toSeq
      got == vecs.map(v => (v.map(x => math.floor(x.toDouble * 1000).toLong),
        v.map(x => math.floor(x.toDouble * 1000).toLong + 1000)))
    }

  /** Rows over binary, decimal and double columns drawn from tiny
    * domains, so duplicates, -0.0 vs 0.0 and NaN all occur. */
  private val row: Gen[Row] = for {
    bin <- Gen.option(Gen.listOfN(2, Gen.choose(0, 2).map(_.toByte)))
    dec <- Gen.option(Gen.choose(-3, 3).map(i => new java.math.BigDecimal(i)
      .movePointLeft(1)))
    dbl <- Gen.option(Gen.oneOf(0.0, -0.0, 1.5, Double.NaN))
  } yield Row(bin.map(_.toArray).orNull, dec.orNull,
    dbl.map(Double.box).orNull)

  private val rowSchema = StructType(Seq(
    StructField("bin", BinaryType), StructField("dec", DecimalType(10, 2)),
    StructField("dbl", DoubleType)))

  /** `b` is a permutation of `a`, -0.0 flipped to 0.0 and back, and
    * half the time one row replaced — equal and unequal multisets both
    * occur often. */
  private val framePair: Gen[(Seq[Row], Seq[Row])] = for {
    a <- Gen.listOf(row)
    keys <- Gen.listOfN(a.size, Gen.choose(0, Int.MaxValue))
    edit <- Gen.option(Gen.zip(Gen.choose(0, 1000), row))
  } yield {
    val shuffled = a.zip(keys).sortBy(_._2).map(_._1)
    val flipped = shuffled.map(r => Row.fromSeq(r.toSeq.map {
      case d: Double if d == 0.0 => -d
      case v => v
    })).toSeq
    a -> (edit match {
      case Some((i, r)) if a.nonEmpty => flipped.updated(i % a.size, r)
      case _ => flipped
    })
  }

  property("sameRowsLocal == two-way exceptAll on binary/decimal/double frames") =
    forAll(framePair) { case (ra, rb) =>
      val a = frame(rowSchema, ra); val b = frame(rowSchema, rb)
      ops.OpsUtil.sameRowsLocal(a, b) ==
        (a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
}
