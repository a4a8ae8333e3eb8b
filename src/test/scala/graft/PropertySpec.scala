package graft

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks of the engine's custom kernels against
  * straightforward Scala reference implementations — randomized inputs
  * catch the edge shapes fixed fixtures miss (tiny dims, repeated
  * values, ties, single-row groups). Raw scalacheck driven through
  * Test.check (no scalatest bridge in the offline cache). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(label: String, prop: Prop, n: Int = 15): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n).withWorkers(1), prop)
    assert(res.passed, s"$label: $res")
  }

  private val vecPair = for {
    n <- Gen.choose(1, 24)
    a <- Gen.listOfN(n, Gen.choose(-100f, 100f))
    b <- Gen.listOfN(n, Gen.choose(-100f, 100f))
  } yield (a, b)

  test("property: VectorDistance matches a plain-Scala fold") {
    check("distance", Prop.forAll(Gen.listOfN(8, vecPair)) { pairs =>
      pairs.isEmpty || {
        val rows = pairs.toDF("a", "b").select(
          VF.dot(col("a"), col("b")),
          VF.cosine(col("a"), col("b")),
          VF.l2(col("a"), col("b"))).collect()
        pairs.zip(rows).forall { case ((a, b), r) =>
          val dot = a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
            s + x.toDouble * y.toDouble }
          val na = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x))
          val nb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x))
          val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
          val l2 = math.sqrt(a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
            val d = x.toDouble - y.toDouble; s + d * d })
          math.abs(r.getDouble(0) - dot) <= 1e-6 * math.max(1, math.abs(dot)) &&
          math.abs(r.getDouble(1) - cos) <= 1e-9 &&
          math.abs(r.getDouble(2) - l2) <= 1e-9 * math.max(1, l2)
        }
      }
    })
  }

  // centroids and points on a small integer grid (half-integer
  // midpoints): every distance is exact in double arithmetic, so planted
  // ties are exact ties and the brute-force order is the true order
  private val tiedCentroids = for {
    d <- Gen.choose(1, 4)
    k <- Gen.choose(1, 8)
    grid = Gen.choose(-3, 3).map(_.toFloat)
    base <- Gen.listOfN(k, Gen.listOfN(d, grid))
    dupOf <- Gen.listOfN(k, Gen.option(Gen.choose(0, k - 1)))
    idKeys <- Gen.listOfN(k, Gen.choose(0, 1000))
    rowKeys <- Gen.listOfN(k, Gen.choose(0, 1000))
    free <- Gen.listOfN(6, Gen.listOfN(d, grid))
    mids <- Gen.listOfN(4, Gen.zip(Gen.choose(0, k - 1), Gen.choose(0, k - 1)))
  } yield {
    // planted duplicates: a centroid may repeat an earlier one's vector
    val vecs = base.indices.map(i =>
      dupOf(i).filter(_ < i).map(base(_)).getOrElse(base(i)))
    // cell ids a random permutation, rows in another random order
    val ids = (0 until k).sortBy(idKeys)
    val cents = (0 until k).sortBy(rowKeys).map(i => (ids(i), vecs(i)))
    // equidistant points: midpoints of centroid pairs, and the
    // centroids themselves (distance 0 to every duplicate)
    val points = free ++ vecs ++ mids.map { case (i, j) =>
      vecs(i).zip(vecs(j)).map { case (a, b) => (a + b) / 2 } }
    (cents, points)
  }

  test("property: Centroids.nearest equals Centroids.probe and a " +
      "brute-force (l2, cell) sort under planted ties") {
    import graft.search.Ann
    check("nearest", Prop.forAll(tiedCentroids) { case (cents, points) =>
      val c = Ann.Centroids(cents.toDF("__cell", "__centroid"))
      val k = cents.size
      Seq(1, k).forall { n =>
        val got = points.map(Tuple1(_)).toDF("v")
          .select(c.nearest(col("v"), n), c.assign(col("v"))).collect()
        points.zip(got).forall { case (p, r) =>
          val brute = cents.map { case (cell, v) =>
            (math.sqrt(p.zip(v).map { case (a, b) =>
              val x = a.toDouble - b; x * x }.sum), cell)
          }.sortBy(identity).take(n).map(_._2)
          r.getSeq[Int](0) == brute && r.getInt(1) == brute.head &&
            c.probe(p, n) == brute
        }
      }
    }, n = 30)
  }

  private val topkData = for {
    nGroups <- Gen.choose(1, 6)
    n <- Gen.choose(1, 120)
    rows <- Gen.listOfN(n, for {
      g <- Gen.choose(0, nGroups - 1)
      s <- Gen.oneOf(Gen.choose(-10.0, 10.0), Gen.oneOf(1.0, 2.0)) // ties
      p <- Gen.choose(0L, 1000000L)
    } yield (g.toLong, s, p))
    k <- Gen.choose(1, 5)
  } yield (rows.distinct, k)

  test("property: TopK.perGroup equals sort-take-k per group") {
    check("topk", Prop.forAll(topkData) { case (rows, k) =>
      rows.isEmpty || {
        val df = rows.toDF("grp", "score", "pk")
        val got = graft.plans.TopK.perGroup(df, "grp", "score", "pk", k)
          .select("grp", "rank", "pk").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2)).toSeq
        val expect = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
          rs.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
            .map { case (r, i) => (g, i + 1, r._3) }
        }.sortBy(t => (t._1, t._2))
        got == expect
      }
    }, n = 10)
  }

  test("property: subword count is positive iff text has non-space chars") {
    val texts = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const(""), Gen.const("   "),
      Gen.const("don't stop!"), Gen.const("a1b2 c3"),
      Gen.const("... !!! ???")))
    check("subword", Prop.forAll(texts) { ts =>
      ts.isEmpty || {
        val out = ts.zipWithIndex.map(_.swap).toDF("id", "t")
          .select(col("id"),
            graft.operators.TextAnalysis.subwordCount(col("t")).as("n"))
          .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
        ts.zipWithIndex.forall { case (t, i) =>
          (out(i) > 0) == t.exists(!_.isWhitespace)
        }
      }
    })
  }

  test("property: ppm and wav encode/decode round-trip for arbitrary " +
    "geometry and samples; gzip round-trips arbitrary bytes") {
    import graft.operators.Multimodal
    val image = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      rgb <- Gen.listOfN(w * h * 3, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (w, h, rgb.toArray)
    check("ppm", Prop.forAll(image) { case (w, h, rgb) =>
      Multimodal.ppmDecode(Multimodal.ppmEncode(w, h, rgb)) match {
        case Some((dw, dh, back)) =>
          dw == w && dh == h && back.toSeq == rgb.toSeq
        case None => false
      }
    }, n = 30)
    val audio = for {
      rate <- Gen.choose(1, 96000)
      s <- Gen.listOfN(Gen.choose(0, 500).sample.getOrElse(100),
        Gen.choose(Short.MinValue, Short.MaxValue))
    } yield (rate, s.toArray)
    check("wav", Prop.forAll(audio) { case (rate, s) =>
      Multimodal.wavDecode(Multimodal.wavEncode(rate, s)) match {
        case Some((r, back)) => r == rate && back.toSeq == s.toSeq
        case None => false
      }
    }, n = 30)
    val blobs = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    check("gzip", Prop.forAll(blobs) { b =>
      Multimodal.gzipDecompress(Multimodal.gzipCompress(b))
        .exists(_.toSeq == b.toSeq)
    }, n = 30)
  }

  test("property: ImageIO PNG/BMP round-trip arbitrary rasters; GIF " +
    "round-trips <=256-color frame stacks; wav resample is the " +
    "floor-index map") {
    import graft.operators.Multimodal
    val image = for {
      w <- Gen.choose(1, 32)
      h <- Gen.choose(1, 32)
      rgb <- Gen.listOfN(w * h * 3, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (w, h, rgb.toArray)
    Seq("png", "bmp").foreach { fmt =>
      check(fmt, Prop.forAll(image) { case (w, h, rgb) =>
        Multimodal.imageDecode(Multimodal.imageEncode(w, h, rgb, fmt)) match {
          case Some((dw, dh, back)) =>
            dw == w && dh == h && back.toSeq == rgb.toSeq
          case None => false
        }
      }, n = 25)
    }
    // GIF: bound the color count per frame by drawing channel bytes
    // from a tiny palette (<= 4^3 = 64 distinct colors)
    val gif = for {
      w <- Gen.choose(1, 16)
      h <- Gen.choose(1, 16)
      nf <- Gen.choose(1, 4)
      frames <- Gen.listOfN(nf, Gen.listOfN(w * h * 3,
        Gen.oneOf(Seq[Byte](0, 85, -86, -1))))
    } yield (w, h, frames.map(_.toArray))
    check("gif", Prop.forAll(gif) { case (w, h, frames) =>
      Multimodal.gifDecodeFrames(
        Multimodal.gifEncodeFrames(w, h, frames)) match {
        case Some(back) => back.length == frames.length &&
          back.zip(frames).forall { case ((dw, dh, rgb), want) =>
            dw == w && dh == h && rgb.toSeq == want.toSeq }
        case None => false
      }
    }, n = 25)
    val resample = for {
      rate <- Gen.choose(100, 48000)
      target <- Gen.choose(100, 48000)
      s <- Gen.choose(0, 300).flatMap(n =>
        Gen.listOfN(n, Gen.choose(Short.MinValue, Short.MaxValue)))
    } yield (rate, target, s.toArray)
    check("wavResample", Prop.forAll(resample) { case (rate, tgt, s) =>
      val media = Seq((1L, Multimodal.wavEncode(rate, s)))
        .toDF("media_id", "content")
      val rows = Multimodal.wavResample(media, tgt).collect()
      rows.length == 1 && {
        Multimodal.wavDecode(rows(0).getAs[Array[Byte]]("content")) match {
          case Some((r, back)) =>
            val m = (s.length.toLong * tgt / rate).toInt
            r == tgt && back.length == m &&
              (0 until m).forall(j =>
                back(j) == s((j.toLong * rate / tgt).toInt))
          case None => false
        }
      }
    }, n = 10)
  }

  test("property: BpeEncode equals the rank-order replace chain on " +
    "adversarial small-alphabet text") {
    import graft.functions.BpeEncode
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.unsafe.types.UTF8String
    // tiny alphabet forces dense overlaps ("aaa", "abab", chained
    // merges whose symbols feed later pairs)
    val alpha = Gen.oneOf('a', 'b', 'c')
    val gen = for {
      text <- Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, alpha))
        .map(_.mkString)
      nM <- Gen.choose(1, 8)
      // merge table: random pairs over the alphabet PLUS earlier merge
      // symbols — mirrors what training produces
      pairs <- Gen.sequence[Seq[(Int, String)], (Int, String)](
        (1 to nM).map { r =>
          val syms = ('a' to 'c') ++ (1 until r).map(i => (0xE000 + i).toChar)
          for {
            x <- Gen.oneOf(syms)
            y <- Gen.oneOf(syms)
          } yield (r, s"$x$y")
        })
    } yield (text, pairs)
    check("bpe", Prop.forAll(gen) { case (text, raw) =>
      // training can never emit a duplicate pair (BpeEncode rejects
      // them); keep each pair's first rank — later-rank duplicates
      // would be chain no-ops anyway
      val seen = scala.collection.mutable.Set.empty[String]
      val merges = raw.filter { case (_, p) => seen.add(p) }
      // the chain, driver-side: rank order, String.replace greedy
      val chain = merges.foldLeft(text) { case (acc, (r, p)) =>
        acc.replace(p, (0xE000 + r).toChar.toString)
      }
      val expr = BpeEncode(
        Bridge.expression(lit(text)), merges)
      val fast = expr.nullSafeEval(UTF8String.fromString(text)).toString
      fast == chain
    }, n = 200)
  }

  // ---- round-11 cleaning operators vs plain-Scala references ----

  private val lineGen: Gen[String] = for {
    words <- Gen.choose(0, 8)
    body <- Gen.listOfN(words,
      Gen.oneOf("alpha", "beta", "gamma", "the", "javascript", "words"))
    tail <- Gen.oneOf("", ".", "!", "?", "\"", "x", "{")
  } yield (body :+ tail).mkString(" ")

  test("property: c4Clean equals the line-by-line reference") {
    val docGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, lineGen).map(_.mkString("\n")))
    check("c4", Prop.forAll(Gen.listOfN(6, docGen)) { texts =>
      texts.isEmpty || {
        val got = texts.toDF("text")
          .select(graft.operators.TextAnalysis.c4Clean(col("text")).as("c"))
          .select("c.text", "c.n_kept", "c.keep")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
        val want = texts.map { t =>
          val kept = t.split("\n", -1).filter { l =>
            val tr = l.trim
            java.util.regex.Pattern.compile("[.!?\"]$").matcher(tr).find() &&
              tr.split("\\s+", -1).length >= 5 &&
              !l.toLowerCase.contains("javascript")
          }
          val clean = kept.mkString("\n")
          val sentOk = clean.count(c => c == '.' || c == '!' || c == '?') >= 3
          (clean, kept.length.toLong,
            sentOk && !t.toLowerCase.contains("lorem ipsum") &&
              !t.contains("{"))
        }
        got.toSeq == want
      }
    }, n = 25)
  }

  test("property: frequentLineDedup equals the distinct-doc reference") {
    val pool = Seq("cookie banner", "alpha beta", "real content here",
      "subscribe now", "gamma", " Cookie Banner ")
    val docsGen = for {
      n <- Gen.choose(2, 8)
      docs <- Gen.listOfN(n, Gen.choose(1, 5)
        .flatMap(k => Gen.listOfN(k, Gen.oneOf(pool))))
    } yield docs.zipWithIndex.map { case (ls, i) =>
      (i.toLong, ls.mkString("\n")) }
    check("lineDedup", Prop.forAll(docsGen, Gen.choose(2, 4)) { (docs, k) =>
      val got = graft.operators.Dedup
        .frequentLineDedup(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      val df = docs.flatMap { case (id, t) =>
        t.split("\n", -1).map(l => (l.trim.toLowerCase, id)) }
        .groupBy(_._1).map { case (key, xs) => key -> xs.map(_._2).distinct.size }
      val hot = df.filter(_._2 >= k).keySet
      docs.forall { case (id, t) =>
        val lines = t.split("\n", -1)
        val keptLines = lines.filterNot(l => hot(l.trim.toLowerCase))
        got(id) == ((lines.length.toLong,
          (lines.length - keptLines.length).toLong,
          keptLines.mkString("\n")))
      }
    }, n = 20)
  }

  test("property: distributed linear training equals the local integer " +
    "loop on random labeled corpora") {
    val corpusGen = for {
      n <- Gen.choose(3, 12)
      rows <- Gen.listOfN(n, for {
        w <- Gen.choose(1, 10)
        toks <- Gen.listOfN(w,
          Gen.oneOf("spark", "scan", "junk", "buy", "the", "row"))
        y <- Gen.oneOf(0L, 1L)
      } yield (toks.mkString(" "), y))
    } yield rows.zipWithIndex.map { case ((t, y), i) => (i.toLong, t, y) }
    val (dim, iters, bias, slope, step) = (8, 3, 100L, 1000L, 1000L)
    check("linearGd", Prop.forAll(corpusGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("id", "text", "y")
        val m = graft.operators.LangModel.linearTrain(df, "text",
          col("y"), dim = dim, iters = iters, bias = bias,
          slopeDiv = slope, stepDiv = step)
        val feats = df
          .filter(col("text").isNotNull && trim(col("text")) =!= "")
          .select(col("y"), graft.operators.LangModel
            .linearFeatures(col("text"), dim, bias).as("x"))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        var w = Array.fill(dim + 1)(0L)
        for (_ <- 1 to iters) {
          val g = Array.fill(dim + 1)(0L)
          feats.foreach { case (y, x) =>
            var z = 0L; var j = 0
            while (j <= dim) { z += w(j) * x(j); j += 1 }
            val p = math.min(math.max(500000L + z / slope, 0L), 1000000L)
            val e = p - y * 1000000L
            j = 0
            while (j <= dim) { g(j) += e * x(j); j += 1 }
          }
          w = Array.tabulate(dim + 1)(j => w(j) - g(j) / step)
        }
        m.wMicro.toSeq == w.toSeq
      }
    }, n = 8)
  }
}
