package perfbench

/** Tests of the benchmark's own arithmetic and parsing: percentiles,
  * quartiles, the tail rule, span self time, job-to-layer attribution
  * from call sites, and generator determinism. Needs no Spark session.
  *
  * Run: python3 perfbench/run.py --self-test */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case t: Throwable => println(s"  $name threw $t"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // medians
    check("median odd")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // quartiles: values from Python's statistics.quantiles(xs, n=4)
    check("quartiles 1..10") {
      val (q1, q2, q3) = Stats.quartiles((1 to 10).map(_.toDouble))
      near(q1, 2.75) && near(q2, 5.5) && near(q3, 8.25)
    }
    check("quartiles 5 samples") {
      val (q1, q2, q3) = Stats.quartiles(Seq(7.0, 1.0, 3.0, 9.0, 5.0))
      near(q1, 2.0) && near(q2, 5.0) && near(q3, 8.0)
    }
    check("quartiles 2 samples extrapolate") {
      // quantiles([1, 2], n=4) == [0.75, 1.5, 2.25]
      val (q1, q2, q3) = Stats.quartiles(Seq(2.0, 1.0))
      near(q1, 0.75) && near(q2, 1.5) && near(q3, 2.25)
    }

    // tail: mean of the slowest quarter, at least one sample
    check("tail of 12 is the mean of the slowest 3") {
      Stats.tail((1 to 12).map(_.toDouble)) == ((11.0, 3))
    }
    check("tail of 13 averages the slowest 4") {
      Stats.tail((13 to 1 by -1).map(_.toDouble)) == ((11.5, 4))
    }
    check("tail of one sample is that sample") {
      Stats.tail(Seq(7.0)) == ((7.0, 1))
    }

    // interval coverage and self time
    check("covered overlapping") {
      Stats.coveredLength(Seq((0L, 5L), (3L, 8L), (10L, 12L)), 0L, 20L) == 10L
    }
    check("covered clipped") {
      Stats.coveredLength(Seq((-5L, 2L), (18L, 30L)), 0L, 20L) == 4L
    }
    check("covered nested and empty") {
      Stats.coveredLength(Seq((1L, 9L), (2L, 3L), (4L, 4L)), 0L, 10L) == 8L
    }
    check("span self time") {
      // op [0,100) with children a [10,40) and b [30,60), b with child c [35,50)
      val self = Tracer.selfNs(Seq((0, -1, 0L, 100L), (1, 0, 10L, 40L), (2, 0, 30L, 60L),
        (3, 2, 35L, 50L)))
      self == Map(0 -> 50L, 1 -> 30L, 2 -> 15L, 3 -> 15L)
    }

    // call-site parsing
    val long = Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
      "graft.index.NswIndex$.beamSearchSingle(NswIndex.scala:870)",
      "graft.operators.Collections$.queryTextChunksPersisted(Collections.scala:560)",
      "perfbench.QueryServe$.serve(QueryServe.scala:120)").mkString("\n")
    check("long form first user frame") {
      CallSite.firstUserFrame(long) == Some(("graft.index.NswIndex$", "NswIndex"))
    }
    check("long form benchmark frame") {
      CallSite.firstUserFrame(
        "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)\n" +
          "perfbench.QueryServe$.serve(QueryServe.scala:120)") ==
        Some(("perfbench.QueryServe$", "QueryServe"))
    }
    check("long form without user frame")(CallSite.firstUserFrame(
      "scala.collection.Iterator.foreach(Iterator.scala:10)") == None)
    check("short form")(CallSite.shortModule("collect at NswIndex.scala:850") == Some("NswIndex"))
    check("short form thread pool")(CallSite.shortModule(
      "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") == None)

    // generator determinism and sensitivity to the seed
    check("corpus fingerprint repeats") {
      Inputs.corpus(7, 50, 8).fingerprint == Inputs.corpus(7, 50, 8).fingerprint
    }
    check("corpus fingerprint follows seed") {
      Inputs.corpus(7, 50, 8).fingerprint != Inputs.corpus(8, 50, 8).fingerprint
    }
    check("documents plant exact copies") {
      val rng = new java.util.Random(3)
      val vocab = Inputs.vocabulary(rng, 100)
      val (docs, dups) = Inputs.documents(rng, vocab, new Inputs.Zipf(100, 1.05), 1000L, 300)
      dups.nonEmpty && dups.forall { id =>
        docs.exists(d => d.id < id && d.text == docs((id - 1000L).toInt).text)
      }
    }
    check("maintenance live sets") {
      val m = Inputs.maintenance(5, 100, 3, 4, 3, 2, 20, 2)
      m.liveAfter.size == 4 && m.liveAfter.last.size == 100 + 3 * (4 - 2) &&
        m.batches.forall(b => b.deletes.forall(d => !b.upserts.exists(_._1 == d)))
    }

    // BENCHMARK.json declares exactly the metrics the benchmark reports
    args.headOption.foreach { path =>
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
      def entries(key: String) = root.get(key).elements().asScala.toSeq
      check("BENCHMARK.json end-to-end metrics") {
        entries("end_to_end").map(e => e.get("name").asText -> e.get("unit").asText) == Main.endToEnd
      }
      check("BENCHMARK.json per-layer metrics") {
        entries("per_layer").map(e => (e.get("name").asText, e.get("unit").asText, e.get("better").asText)) ==
          Layers.names.map { case (n, u) => (n, u, Layers.better(n)) }
      }
      check("BENCHMARK.json workloads") {
        entries("workloads").map(_.get("name").asText) == Seq("query_serve", "maintain_mixed")
      }
    }

    println(s"self-test: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
