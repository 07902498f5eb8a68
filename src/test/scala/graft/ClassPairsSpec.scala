package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** The one rep-pair → member-pair expansion ([[Dedup.expandClassPairs]])
  * and the one exchange width ([[Dedup.width]]). */
class ClassPairsSpec extends SparkSpec {

  /** One random class graph: classes of 1–4 copies (sorted members, rep =
    * the smallest), rep edges in random orientation, and the classes whose
    * copies pair with each other. Ids are offset by `seed`, so graphs of
    * different seeds never share an id. */
  private case class ClassGraph(classes: Seq[Seq[Long]], edges: Seq[(Long, Long)],
      within: Set[Long])

  private def classGraph(seed: Int): ClassGraph = {
    val rnd = new scala.util.Random(seed)
    val sizes = Seq.fill(4 + rnd.nextInt(8))(1 + rnd.nextInt(4)) ++ Seq(1, 2, 3)
    val ids = rnd.shuffle((0L until 100L).toVector).take(sizes.sum).map(_ + seed * 1000L)
    val classes = sizes.scanLeft(0)(_ + _).zip(sizes)
      .map { case (at, m) => ids.slice(at, at + m).sorted }
    // the last three classes (a singleton, a pair, a triple) get no edge
    val reps = classes.dropRight(3).map(_.head)
    val edges = for {
      (a, i) <- reps.zipWithIndex; b <- reps.drop(i + 1) if rnd.nextDouble() < 0.35
    } yield if (rnd.nextBoolean()) (a, b) else (b, a)
    val within = classes.filter(ms => ms.size >= 2 && rnd.nextDouble() < 0.6)
      .map(_.head).toSet ++ Set(classes(classes.size - 2).head)
    ClassGraph(classes, edges, within)
  }

  /** Deterministic scores of a rep pair and of a class's internal pairs:
    * none, one double (the jaccard shape) or two longs (the perceptual
    * shape, whose within pairs score 0). */
  private def pairScores(a: Long, b: Long, n: Int): Seq[Any] = n match {
    case 0 => Nil
    case 1 => Seq((a * 31 + b) % 97 / 97.0)
    case _ => Seq((a + b) % 13, (a * b) % 7)
  }
  private def classScores(rep: Long, n: Int): Seq[Any] = n match {
    case 0 => Nil
    case 1 => Seq(rep % 11 / 11.0)
    case _ => Seq(0L, 0L)
  }

  test("expandClassPairs == driver-side member expansion on random class graphs") {
    import org.apache.spark.sql.types._
    val graphs = (1 to 12).map(classGraph)
    // every case the expansion must handle occurs
    val all = graphs.flatMap(g => g.classes.map(ms => (g, ms)))
    val touched = graphs.flatMap(g => g.edges.flatMap(e => Seq(e._1, e._2))).toSet
    assert(all.exists(_._2.size == 1))
    assert(all.exists { case (g, ms) => ms.size >= 2 && !touched(ms.head) && g.within(ms.head) })
    assert(all.exists { case (g, ms) => ms.size >= 2 && !g.within(ms.head) })
    assert(all.exists { case (g, ms) => ms.size >= 2 && touched(ms.head) && g.within(ms.head) })

    for (n <- 0 to 2) {
      val scoreFields = (0 until n).map(i =>
        StructField(s"s$i", if (n == 1) DoubleType else LongType))
      def frame(fields: Seq[StructField], rows: Seq[Row]): DataFrame =
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
      val ids = Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))
      val arr = StructField("members", ArrayType(LongType))
      val repPairs = frame(ids ++ scoreFields, graphs.flatMap(_.edges.map { case (a, b) =>
        Row.fromSeq(Seq(a, b) ++ pairScores(a, b, n)) }))
      val members = frame(Seq(StructField("rep", LongType), arr),
        graphs.flatMap(_.classes.map(ms => Row(ms.head, ms))))
      val within = frame(arr +: scoreFields, graphs.flatMap(g =>
        g.classes.filter(ms => g.within(ms.head))
          .map(ms => Row.fromSeq(ms +: classScores(ms.head, n)))))
      val got = Dedup.expandClassPairs(repPairs, members, within)
      assert(got.columns.toSeq == Seq("doc_a", "doc_b") ++ scoreFields.map(_.name))

      val want = graphs.flatMap { g =>
        val of = g.classes.map(ms => ms.head -> ms).toMap
        g.edges.flatMap { case (a, b) =>
          for (x <- of(a); y <- of(b))
            yield Seq(math.min(x, y), math.max(x, y)) ++ pairScores(a, b, n)
        } ++ g.classes.filter(ms => g.within(ms.head)).flatMap { ms =>
          for (i <- ms.indices; j <- i + 1 until ms.size)
            yield Seq(ms(i), ms(j)) ++ classScores(ms.head, n)
        }
      }
      val gotRows = got.collect().map(_.toSeq.toList).toSeq
      assert(want.nonEmpty)
      assert(gotRows.sortBy(_.mkString(",")) == want.map(_.toList).sortBy(_.mkString(",")),
        s"$n score columns")
    }
  }

  test("explicit-width exchanges follow spark.sql.shuffle.partitions above the core count") {
    val wide = 2 * spark.sparkContext.defaultParallelism
    // the partition counts of every round-robin exchange in `df`'s
    // executed plan
    def roundRobin(df: DataFrame): Set[Int] = {
      df.collect()
      "RoundRobinPartitioning\\((\\d+)\\)".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).toSet
    }
    withConf("spark.sql.shuffle.partitions", wide.toString) {
      // the above-budget text pair expansion
      val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
      assert(withoutBroadcast(roundRobin(Dedup.minhashNearDupPairsOf(docs))) == Set(wide))
      // a former core-count site, over the spread embedding banding
      val (clusters, repPairs) =
        Dedup.embeddingRepCandidatesOf(Tables.load(spark, sfDir, "embeddings"))
      assert(roundRobin(Similarity.positivesQuotiented(clusters, repPairs)) == Set(wide))
    }
  }
}
