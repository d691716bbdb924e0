package graft

import graft.expressions.TextKernels
import graft.functions.{FastText, TextFunctions => TF}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/**
 * The codegen'd kernels (graft.expressions via FastText) must be
 * value-equal to their Column-level reference implementations in
 * TextFunctions on real corpus data — the reference forms mirror the DuckDB
 * oracle SQL, so this equality is what keeps the fast path oracle-exact.
 */
class FastKernelSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(col("doc_id"), col("text"))

  test("sortedShingles == sort_array(charShingles) on the documents corpus") {
    // k = 3 is lm_coverage's oracle assumption, 4 the dedup family's,
    // 16 decontamination's.
    for (k <- Seq(3, 4, 16)) {
      val diff = docs.select(
        FastText.sortedShingles(col("text"), k).as("fast"),
        sort_array(TF.charShingles(col("text"), k)).as("ref"))
        .filter(col("fast") =!= col("ref"))
      assert(diff.count() === 0, s"k=$k")
    }
  }

  test("bpeApply kernel == driver-side greedy merge reference; learning is deterministic") {
    import spark.implicits._
    // Reference: the classical greedy apply — per merge rule, one
    // left-to-right non-overlapping replace pass (the same semantics the
    // oracle's run-parity SQL implements).
    def ref(tk: Seq[String], merges: Seq[(String, String)]): Seq[String] =
      merges.foldLeft(tk) { case (cur, (a, b)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < cur.length) {
          if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) { out += (a + b); i += 2 }
          else { out += cur(i); i += 1 }
        }
        out.toSeq
      }
    val merges = Seq(("b", "b"), ("a", "b"), ("ab", "c"), ("x", "y"))
    val cases = Seq(
      Seq("b", "b", "b"), // self-pair odd run: greedy takes head pair only
      Seq("b", "b", "b", "b"), // self-pair even run
      Seq("a", "b", "c"), // rule 3 consumes rule 2's output (ab + c)
      Seq("a", "b", "a", "b"),
      Seq("x", "a", "b", "y"), // x/y not adjacent before OR after the ab merge
      Seq.empty[String],
      Seq("z"))
    val got = cases.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("id", "tk")
      .select(col("id"), TF.bpeApply(col("tk"), merges).as("m"))
      .as[(Long, Seq[String])].collect().toMap
    for ((c, i) <- cases.zipWithIndex)
      assert(got(i.toLong) == ref(c, merges), s"case $i: ${got(i.toLong)}")
    // Corpus: learned table is a pure function of the data (stable under
    // repartitioning), and the kernel matches the reference fold on it.
    val d = docs.filter(col("text").isNotNull)
    val learned = TF.learnBpeMerges(d, col("text"), 8)
    assert(learned.length == 8)
    assert(learned == TF.learnBpeMerges(d.repartition(13), col("text"), 8))
    val rows = d.limit(50)
      .select(TF.bpeTokens(col("text")).as("tk"),
        TF.bpeApply(TF.bpeTokens(col("text")), learned).as("m"))
      .as[(Seq[String], Seq[String])].collect()
    assert(rows.nonEmpty)
    for ((tk, m) <- rows) assert(m == ref(tk, learned))
  }

  test("bpe edges: merge table shorter than requested; empty corpus; identity apply") {
    import spark.implicits._
    // Fewer distinct pairs than requested merges: the table just ends.
    val one = Seq((1L, "x y x y")).toDF("doc_id", "text")
    val m1 = TF.learnBpeMerges(one, col("text"), n = 8)
    // Pairs of "x y x y": (x,y) twice, (y,x) once -> exactly two rules.
    assert(m1 === Seq(("x", "y"), ("y", "x")), m1.toString)
    // Empty corpus: no merges; apply is the identity.
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TF.learnBpeMerges(empty, col("text"), n = 8).isEmpty)
    val toks = Seq((1L, Seq("a", "b", "c"))).toDF("id", "tk")
    val out = toks.select(TF.bpeApply(col("tk"), Nil).as("m"))
      .as[Seq[String]].collect().head
    assert(out === Seq("a", "b", "c"))
  }

  test("intraDocStrip kernel == positional HOF composition (corpus + crafted edges)") {
    import spark.implicits._
    val crafted = Seq(
      (900L, "a b x y a b a"), (901L, ""), (902L, "w"),
      (903L, "p q p q p q"), (904L, "a  b a  b"), // double spaces -> empty words kept
      (905L, "語言 模型 語言 模型 fin")).toDF("doc_id", "text")
    for ((df, k) <- Seq(
        (spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 2),
        (crafted, 2), (crafted, 3))) {
      val fast = graft.functions.Spans.intraDocStrip(df, "doc_id", "text", k)
      val ref = graft.functions.Spans.intraDocStripRef(df, "doc_id", "text", k)
      assert(fast.except(ref).count() === 0 && ref.except(fast).count() === 0,
        s"k=$k")
    }
  }

  test("coverageCounts == (size(shingles), size(intersect(shingles, ref))) on the corpus") {
    // Ref set drawn from the corpus itself (some grams hit, some miss) plus
    // a never-present gram; empty-ref edge covered too.
    val someGrams = docs.limit(3)
      .select(explode(FastText.sortedShingles(col("text"), 3)).as("g"))
      .limit(40).collect().map(_.getString(0)).toSeq :+ "\u0000!?"
    for (ref <- Seq(someGrams, Seq.empty[String])) {
      val refLit = typedLit(ref)
      val diff = docs.filter(col("text").isNotNull).select(
        FastText.coverageCounts(col("text"), 3, ref).as("fast"),
        array(
          size(FastText.sortedShingles(col("text"), 3)).cast("long"),
          size(array_intersect(FastText.sortedShingles(col("text"), 3), refLit)).cast("long"))
          .as("ref"))
        .filter(col("fast") =!= col("ref"))
      assert(diff.count() === 0, s"ref size ${ref.size}")
    }
  }

  test("coverageCounts == composition on multibyte unicode (corpus text is all single-byte)") {
    // substringSQL counts CHARS, not bytes — CJK/emoji strings are where a
    // byte-indexed bug would surface, and the corpus never exercises them.
    val rnd = new scala.util.Random(42)
    val alphabet = "ab 語言模型 données ñç 🚀字".toCharArray.filterNot(Character.isSurrogate)
    val docs = (1 to 60).map { i =>
      i -> (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    import spark.implicits._
    val df = docs.toDF("id", "text")
    val ref = docs.flatMap { case (_, s) => s.sliding(3) }.distinct.take(20)
    val diff = df.select(
      FastText.coverageCounts(col("text"), 3, ref).as("fast"),
      array(
        size(FastText.sortedShingles(col("text"), 3)).cast("long"),
        size(array_intersect(FastText.sortedShingles(col("text"), 3), typedLit(ref))).cast("long"))
        .as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("xhash32Array == sort_array(shingleHashes) on the documents corpus") {
    val diff = docs.select(
      FastText.xhash32Array(TF.charShingles(col("text"), 4)).as("fast"),
      sort_array(TF.shingleHashes(col("text"), 4)).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("minhashSig == minhashSignature (order-insensitive input)") {
    val diff = docs.select(
      FastText.minhashSig(FastText.xhash32Array(TF.charShingles(col("text"), 4)), 32).as("fast"),
      TF.minhashSignature(TF.shingleHashes(col("text"), 4), 32).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("bandKeys == reference bandKeys") {
    val sig = FastText.minhashSig(FastText.xhash32Array(TF.charShingles(col("text"), 4)), 32)
    val diff = docs.select(
      FastText.bandKeys(sig, 8, 4).as("fast"),
      TF.bandKeys(sig, 8, 4).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("simhash32 == reference simhash32") {
    val diff = docs.select(
      FastText.simhash32(FastText.xhash32Array(TF.charShingles(col("text"), 4))).as("fast"),
      TF.simhash32(TF.shingleHashes(col("text"), 4)).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("jaccardSorted == size(intersect)/size(union) on cross-doc pairs") {
    val a = docs.limit(40).select(col("doc_id").as("i"), FastText.sortedShingles(col("text"), 4).as("sa"))
    val b = docs.limit(40).select(col("doc_id").as("j"), FastText.sortedShingles(col("text"), 4).as("sb"))
    val diff = a.crossJoin(b).select(
      FastText.jaccardSorted(col("sa"), col("sb")).as("fast"),
      (size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb")))).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("hashed-shingle Jaccard == string-set Jaccard across corpus pairs") {
    val a = docs.limit(60).select(col("doc_id").as("i"),
      FastText.sortedShingles(col("text"), 4).as("sa"),
      FastText.hashedShingles(col("text"), 4).as("ha"))
    val b = docs.limit(60).select(col("doc_id").as("j"),
      FastText.sortedShingles(col("text"), 4).as("sb"),
      FastText.hashedShingles(col("text"), 4).as("hb"))
    val diff = a.crossJoin(b).select(
      FastText.jaccardSortedLong(col("ha"), col("hb")).as("fast"),
      (size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb")))).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("kMinFingerprint reference == kernel prefix path (fingerprint query)") {
    val diff = docs.select(
      TF.kMinFingerprint(col("text"), 4).as("ref"),
      slice(FastText.xhash32Array(FastText.sortedShingles(col("text"), 8)), 1, 4).as("fast"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("minhashSig on 64-bit XXH64 inputs stays in [0, P) (production path)") {
    import graft.functions.TextFunctions.P
    val sigs = docs.select(
      FastText.minhashSig(FastText.hashedShingles(col("text"), 4), 32).as("sig"))
    val bad = sigs.filter(exists(col("sig"), v => v < 0 || v >= P))
    assert(bad.count() === 0)
  }

  test("kernel dotSeq == HOF fold on the embeddings corpus (float arrays)") {
    import graft.functions.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = e.select(col("vec_id").as("i"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("j"), col("embedding").as("vb"))
    val pairs = a.join(b, col("i") < col("j")).limit(2000)
    val diff = pairs.select(
      Similarity.dotSeq(col("va"), col("vb")).as("fast"),
      Similarity.dotSeqRef(col("va"), col("vb")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("bounded Jaccard kernel: exact value above threshold, only sub-threshold pairs bailed") {
    // All-pairs over a doc sample: every pair the unbounded kernel puts at
    // >= t must get the identical value from the bounded kernel; every
    // bailed (-1) pair must truly be < t.
    val sh = docs.limit(120).select(
      col("doc_id").as("id"), FastText.hashedShingles(col("text"), 4).as("sh"))
    val pairs = sh.as("l").join(sh.as("r"), col("l.id") < col("r.id"))
      .select(
        FastText.jaccardSortedLong(col("l.sh"), col("r.sh")).as("ref"),
        FastText.jaccardSortedLongBounded(col("l.sh"), col("r.sh"), 0.7).as("bounded"))
    assert(pairs.filter(col("ref") >= 0.7 && col("bounded") =!= col("ref")).count() === 0)
    assert(pairs.filter(col("bounded") === -1.0 && col("ref") >= 0.7).count() === 0)
    assert(pairs.filter(col("ref") >= 0.7).count() > 0, "sample has no above-threshold pair")
  }

  test("sortedLongContains == array_contains over random sorted arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // Arrays of varied size (incl. empty and singleton) probed with a mix
    // of present and absent values, including boundary elements.
    val rows = (1 to 500).map { _ =>
      val n = rnd.nextInt(20)
      val arr = Array.fill(n)(rnd.nextInt(50).toLong).distinct.sorted
      val probe = rnd.nextInt(60).toLong
      (arr.toSeq, probe)
    } ++ Seq((Seq.empty[Long], 0L), (Seq(7L), 7L), (Seq(7L), 6L), (Seq(7L), 8L))
    val df = rows.toDF("arr", "v")
    val diff = df.select(
      FastText.sortedLongContains(col("arr"), col("v")).as("fast"),
      array_contains(col("arr"), col("v")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("kernels handle edge strings: empty, shorter than k, multi-byte") {
    import spark.implicits._
    val edge = Seq("", "ab", "日本語のテキスト", "aaaa", "日日日日日").toDF("text")
    val diff = edge.select(
      FastText.sortedShingles(col("text"), 4).as("fast"),
      sort_array(TF.charShingles(col("text"), 4)).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
    val hdiff = edge.select(
      FastText.xhash32Array(TF.charShingles(col("text"), 4)).as("fast"),
      sort_array(TF.shingleHashes(col("text"), 4)).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(hdiff.count() === 0)
  }

  test("skipgramConcat kernel == HOF skipgramPairs (decoded) on corpus + edges") {
    import spark.implicits._
    for ((df, w) <- Seq((docs, 2), (docs, 3),
        (Seq("", "x", "p q", "a b c d e f").toDF("text"), 2))) {
      val diff = df.select(
          TF.wsTokens(col("text")).as("tk"))
        .select(
          FastText.skipgramConcat(col("tk"), w).as("fast"),
          transform(TF.skipgramPairs(col("tk"), w),
            p => concat(p.getField("w1"), lit("\u0000"), p.getField("w2"))).as("ref"))
        .filter(not(col("fast") <=> col("ref")))
      assert(diff.count() === 0, s"w=$w")
    }
  }

  test("winnowDigest kernel == materialized HOF winnow composition (corpus + edges)") {
    import spark.implicits._
    val edges = Seq("", "x", "abc", "abcd", "aaaaaaaaaaaa",
      "the quick brown fox", "\u00e9\u00e9\u00e9\u00e9\u00e9\u00e9").toDF("text")
    for (df <- Seq(docs.select(col("text")), edges); (k, w) <- Seq((4, 4), (4, 8), (2, 3))) {
      // Compare via collect, NOT a trailing filter: predicate pushdown
      // would substitute the whole chain into one filter condition,
      // re-inlining the gram array into the window transform \u2014 the exact
      // O(n\u00b2) re-evaluation hazard winnowMinima's scaladoc warns about.
      val rows = df
        .filter(col("text").isNotNull)
        .select(col("text"), FastText.winnowDigest(col("text"), k, w).as("fast"))
        .select(col("text"), col("fast"), TF.positionalShingleHashes(col("text"), k).as("hs"))
        .select(col("text"), col("fast"), TF.winnowMinima(col("hs"), w).as("fp"))
        .select(col("text"), col("fast"),
          array(size(col("fp")).cast("long"),
            aggregate(col("fp"), lit(0L), (acc, x) => acc.bitwiseXOR(x))).as("ref"))
        .collect()
      for (r <- rows)
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"k=$k w=$w text='${r.getString(0).take(40)}'")
    }
  }

  test("hashedWordGrams kernel == HOF transform+xhash32+distinct (corpus + edges)") {
    import spark.implicits._
    val edges = Seq("", "one", "a b c d e f g h", "a b c d e f g h i",
      "x x x x x x x x x x", "a  b c d e f g h").toDF("text") // double space
    for (df <- Seq(docs.select(col("text")), edges); n <- Seq(3, 8)) {
      val tk = TF.wsTokens(col("text"))
      val rows = df.filter(col("text").isNotNull)
        .select(
          sort_array(FastText.hashedWordGrams(col("text"), n)).as("fast"),
          sort_array(array_distinct(
            when(size(tk) >= n,
              transform(sequence(lit(1), size(tk) - lit(n - 1)),
                i => TF.xhash32(concat_ws(" ", slice(tk, i, lit(n))))))
              .otherwise(typedLit(Array.empty[Long])))).as("ref"))
        .collect()
      for (r <- rows)
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"n=$n")
    }
  }

  test("tokenEntropyBits kernel == scalar whole-bit reference (corpus + edges)") {
    import spark.implicits._
    // The oracle's arithmetic, scalar-side: split(' ') with empties kept,
    // each occurrence of an in-doc-count-c token costs flog2(n) - flog2(c).
    def ref(s: String): Seq[Long] = {
      val words = s.split(" ", -1)
      val n = words.length.toLong
      def flog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
      val bits = words.groupBy(identity).values
        .map(g => g.length.toLong * (flog2(n) - flog2(g.length.toLong))).sum
      Seq(n, bits)
    }
    val edges = Seq("", "a", "a a a a", "a b a b", "x  y", // double space: empty token
      "the quick brown fox jumps over the lazy dog the end").toDF("text")
    for (df <- Seq(docs.select(col("text")), edges)) {
      val rows = df.filter(col("text").isNotNull)
        .select(col("text"), FastText.tokenEntropyBits(col("text")).as("fast"))
        .collect()
      for (r <- rows)
        assert(r.getSeq[Long](1) === ref(r.getString(0)),
          s"text='${r.getString(0).take(40)}'")
    }
    // Sanity anchors: uniform repetition = 0 bits; 4 distinct over 4
    // tokens = flog2(4) - flog2(1) = 2 bits each.
    assert(ref("a a a a") === Seq(4L, 0L))
    assert(ref("a b c d") === Seq(4L, 8L))
  }

  test("tokenEntropyBits invariants: permutation-invariant, 0 <= bits <= n*flog2(n)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val texts = (1 to 60).map { _ =>
      val n = 1 + rnd.nextInt(40)
      Seq.fill(n)("t" + rnd.nextInt(8)).mkString(" ")
    }
    val shuffled = texts.map(t => rnd.shuffle(t.split(" ").toSeq).mkString(" "))
    val rows = (texts zip shuffled).toDF("a", "b")
      .select(FastText.tokenEntropyBits(col("a")).as("ta"),
        FastText.tokenEntropyBits(col("b")).as("tb"))
      .collect()
    for (r <- rows) {
      val (ta, tb) = (r.getSeq[Long](0), r.getSeq[Long](1))
      assert(ta === tb, "entropy is a bag statistic — token order cannot matter")
      val (n, bits) = (ta(0), ta(1))
      val fl = 63L - java.lang.Long.numberOfLeadingZeros(n)
      assert(bits >= 0 && bits <= n * fl, s"bits $bits outside [0, ${n * fl}]")
    }
  }

  // The per-gram `substringSQL` forms of the four gram kernels, kept as
  // references for the byte-offset walk that replaced them: gram i is
  // `substringSQL(i, k)`, counted from the start of the string and copied.

  private def sortedShinglesRef(s: UTF8String, k: Int): ArrayData = {
    val m = math.max(s.numChars() - k + 1, 1)
    val set = new java.util.TreeSet[UTF8String]()
    for (i <- 1 to m) set.add(s.substringSQL(i, k))
    new GenericArrayData(set.toArray)
  }

  private def coverageCountsRef(
      s: UTF8String, k: Int, ref: java.util.HashSet[UTF8String]): ArrayData = {
    val m = math.max(s.numChars() - k + 1, 1)
    val seen = new java.util.HashSet[UTF8String]()
    var hits = 0L
    for (i <- 1 to m) {
      val g = s.substringSQL(i, k)
      if (seen.add(g) && ref.contains(g)) hits += 1
    }
    ArrayData.toArrayData(Array(seen.size.toLong, hits))
  }

  private def hashedShinglesRef(s: UTF8String, k: Int): ArrayData = {
    val m = math.max(s.numChars() - k + 1, 1)
    val set = new java.util.TreeSet[UTF8String]()
    for (i <- 1 to m) set.add(s.substringSQL(i, k))
    val hs = set.toArray(Array.empty[UTF8String]).map(u =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)).sorted.distinct
    ArrayData.toArrayData(hs)
  }

  private def winnowDigestRef(s: UTF8String, k: Int, w: Int): ArrayData = {
    val m = math.max(s.numChars() - k + 1, 1)
    val hs = (1 to m).map(i => TextKernels.xhash32(s.substringSQL(i, k))).toArray
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    var xor = 0L
    for (j <- 0 until m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(j)) tail -= 1
      deque(tail) = j
      tail += 1
      while (deque(head) <= j - w) head += 1
      if (j >= w - 1 || (j == m - 1 && m < w)) {
        val mn = hs(deque(head))
        if (seen.add(mn)) xor ^= mn
      }
    }
    ArrayData.toArrayData(Array(seen.size.toLong, xor))
  }

  /** String arrays compared by their UTF-8 bytes; long arrays by value. */
  private def strings(a: ArrayData): Seq[Seq[Byte]] =
    a.toObjectArray(StringType).toSeq.map(_.asInstanceOf[UTF8String].getBytes.toSeq)
  private def longs(a: ArrayData): Seq[Long] = a.toLongArray().toSeq

  /** The parity inputs for gram size `k`: the empty string, one character,
    * n = k-1, k and k+1 in ASCII and in mixed 1- to 4-byte text (with a
    * 4-byte character at the first and the last window position), and a
    * 12,000-character document in each. */
  private def gramInputs(k: Int): Seq[String] = {
    val rnd = new scala.util.Random(k)
    val mixed = Seq("a", "b", " ", "\u00e9", "\u00f1", "\u8a9e", "\u30c6", "\ud83d\ude80", "\ud834\udd1e")
    def text(n: Int, alphabet: Seq[String]) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString
    val rocket = "\ud83d\ude80"
    val shortLens = Seq(k - 1, k, k + 1).filter(_ >= 0)
    Seq("", "x", "\u8a9e", rocket) ++
      shortLens.map(n => text(n, Seq("a", "b", "c"))) ++
      shortLens.map(n => text(n, mixed)) ++
      Seq(rocket + text(k - 1, mixed) + rocket, rocket * (k + 1),
        text(12000, Seq("a", "b", "c", " ")), text(12000, mixed))
  }

  test("gram kernels == their substringSQL references, bit for bit (k = 1, 4, 16)") {
    for (k <- Seq(1, 4, 16); text <- gramInputs(k)) {
      val s = UTF8String.fromString(text)
      val what = s"k=$k chars=${s.numChars()} text='${text.take(20)}'"
      assert(strings(TextKernels.sortedShingles(s, k)) === strings(sortedShinglesRef(s, k)), what)
      assert(longs(TextKernels.hashedShingles(s, k)) === longs(hashedShinglesRef(s, k)), what)
      // Reference set: every other gram of the text itself, plus one absent gram.
      val ref = new java.util.HashSet[UTF8String]()
      val grams = sortedShinglesRef(s, k).toObjectArray(StringType)
      grams.indices.filter(_ % 2 == 0).foreach(i => ref.add(grams(i).asInstanceOf[UTF8String]))
      ref.add(UTF8String.fromString("\u0000absent"))
      assert(longs(TextKernels.coverageCounts(s, k, ref)) === longs(coverageCountsRef(s, k, ref)), what)
      for (w <- Seq(1, 4))
        assert(longs(TextKernels.winnowDigest(s, k, w)) === longs(winnowDigestRef(s, k, w)),
          s"$what w=$w")
    }
  }

  test("sortedShingles output does not alias the input buffer") {
    for (text <- Seq("the quick \u8a9e\u8a00 fox \ud83d\ude80 jumps", "ab\u00e9")) {
      val bytes = text.getBytes("UTF-8")
      val out = TextKernels.sortedShingles(UTF8String.fromBytes(bytes), 4)
      val before = strings(out)
      java.util.Arrays.fill(bytes, 'x'.toByte)
      assert(strings(out) === before, s"text='$text'")
    }
  }
}
