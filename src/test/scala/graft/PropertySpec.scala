package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.operators.Multimodal

/** Generator-based properties (SURVEY §5 layer 4) over the engine's pure
  * kernels — no Spark session, so hundreds of cases run in milliseconds.
  * sbt's scalacheck framework discovers this alongside the scalatest
  * suites. */
object DecoderProps extends Properties("graft.pure") {

  private val ids: Gen[Long] = Gen.chooseNum(0L, 1000000L)

  property("ppm roundtrip: synth -> decode recovers dims and exact brightness") =
    forAll(ids) { id =>
      val w = 4 + (id % 5).toInt
      val h = 3 + (id % 4).toInt
      val n = w * h * 3
      val sum = (0 until n).map(i => (id * 31 + i * 7) % 256).sum
      Multimodal.decodePpm(Multimodal.synthPpm(id))
        .contains((w, h, sum.toDouble / n / 255))
    }

  property("ppm truncation always decodes to None") =
    forAll(ids, Gen.chooseNum(1, 10)) { (id, k) =>
      Multimodal.decodePpm(Multimodal.synthPpm(id).dropRight(k)).isEmpty
    }

  property("frame decoder: concatenated single images parse as frames") =
    forAll(ids, ids) { (a, b) =>
      val frames =
        Multimodal.decodeFrames(Multimodal.synthPpm(a) ++ Multimodal.synthPpm(b))
      frames.size == 2 &&
        frames(0)._1 == 4 + (a % 5).toInt && frames(1)._1 == 4 + (b % 5).toInt
    }

  property("video frame count and dims follow the synthesis formula") =
    forAll(ids) { id =>
      val frames = Multimodal.decodeFrames(Multimodal.synthVideo(id))
      frames.size == 2 + (id % 4).toInt &&
        frames.forall { case (w, h, _) =>
          w == 4 + (id % 5).toInt && h == 3 + (id % 4).toInt
        }
    }

  property("wav roundtrip: header fields and exact mean amplitude") =
    forAll(ids) { id =>
      val n = 64 + (id % 64).toInt
      val sum = (0 until n).map(i => math.abs((id * 37 + i * 11) % 2048 - 1024)).sum
      Multimodal.decodeWav(Multimodal.synthWav(id)).exists { f =>
        f.sample_rate == 8000 && f.n_samples == n &&
          f.mean_abs == sum.toDouble / (n.toLong * 1024L)
      }
    }

  property("wav with corrupted magic decodes to None") =
    forAll(ids, Gen.oneOf(0, 1, 2, 3, 8, 9, 12, 36)) { (id, off) =>
      val p = Multimodal.synthWav(id)
      p(off) = (p(off) ^ 0x5a).toByte
      Multimodal.decodeWav(p).isEmpty
    }

  /** The recall guarantee dedup_simhash_pairs rests on: ≤3 bit flips over
    * 60 bits leave at least one of the 4 15-bit bands untouched, so
    * exact-band bucketing can never miss a Hamming≤3 pair (pigeonhole). */
  property("simhash banding pigeonhole: <=3 flips leave a band intact") = {
    val bitsGen = Gen.chooseNum(0L, (1L << 60) - 1)
    val flipsGen = Gen.chooseNum(0, 3).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(0, 59)).map(_.distinct))
    forAll(bitsGen, flipsGen) { (x, flips) =>
      val y = flips.foldLeft(x)((v, b) => v ^ (1L << b))
      (0 until 4).exists { b =>
        ((x >> (b * 15)) & 32767L) == ((y >> (b * 15)) & 32767L)
      }
    }
  }

  /** The resize kernel against a brute-force reimplementation on arbitrary
    * (not just synthesized) images: dims are ceil-halved and the sampled
    * sum is exactly the even-(row, col) channel sum. */
  property("resize half: dims ceil-halve, sampled sum matches brute force") = {
    val dims = for {
      w <- Gen.chooseNum(1, 9); h <- Gen.chooseNum(1, 9)
      px <- Gen.listOfN(w * h * 3, Gen.chooseNum(0, 255))
    } yield (w, h, px)
    forAll(dims) { case (w, h, px) =>
      val img = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px.map(_.toByte)
      val expected = (for {
        r <- 0 until h by 2; c <- 0 until w by 2; ch <- 0 until 3
      } yield px((r * w + c) * 3 + ch).toLong).sum
      Multimodal.resizeHalfStats(img)
        .contains(((w + 1) / 2, (h + 1) / 2, expected))
    }
  }

  /** Min-label propagation's fixpoint is the true component minimum: on
    * random small graphs the distributed recurrence (computed here as the
    * pure sequential fixpoint) must agree with union-find. */
  property("cc min-label fixpoint == union-find components") = {
    val graphs = for {
      n <- Gen.chooseNum(2, 12)
      m <- Gen.chooseNum(0, 14)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield es.filter(e => e._1 != e._2)
    forAll(graphs) { es =>
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      // sequential twin of ConnectedComponents.labels' recurrence
      var lab = nodes.map(v => v -> v).toMap
      var changed = true
      while (changed) {
        val next = nodes.map { v =>
          val nbr = es.collect {
            case (a, b) if a == v => lab(b)
            case (a, b) if b == v => lab(a)
          }
          v -> (nbr :+ lab(v)).min
        }.toMap
        changed = next != lab
        lab = next
      }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      Prop(nodes.forall(v => lab(v) == find(v)))
    }
  }

  /** MinHash's order-invariance (what makes the signature partitioning- and
    * shuffle-order-proof): min over seeded digests is commutative. */
  property("minhash signature is invariant under token permutation") = {
    val toks = Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty))
    def sig(ts: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      ts.map(t => md.digest(s"0|$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).min
    }
    forAll(toks) { ts =>
      Prop(sig(ts) == sig(scala.util.Random.shuffle(ts)))
    }
  }

  property("sum128: any split and merge order == the exact BigInt sum") = {
    val vals = Gen.listOf(Gen.oneOf(Gen.long, Gen.chooseNum(-1000L, 1000L)))
    forAll(vals, Gen.chooseNum(1, 7)) { (xs, parts) =>
      val chunks = xs.zipWithIndex.groupBy(_._2 % parts).values.map(_.map(_._1)).toSeq
      def total(cs: Seq[List[Long]]) = cs.map { c =>
        val a = new operators.Sum128(2)
        c.foreach { v => a.add(0, v); a.addProd(1, v >> 8, -(v >> 9)) }
        a
      }.foldLeft(new operators.Sum128(2))(_ merge _)
      val fwd = total(chunks)
      val rev = total(chunks.reverse.map(_.reverse))
      val want = xs.map(BigInt(_)).sum
      val want2 = xs.map(v => BigInt(v >> 8) * -(v >> 9)).sum
      Prop(fwd.big(0) == want && rev.big(0) == want &&
        fwd.big(1) == want2 && rev.big(1) == want2)
    }
  }
}
