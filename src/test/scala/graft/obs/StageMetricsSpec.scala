// The listener bus is private[spark]; this accessor lets the spec check that
// a scope leaves no listener behind.
package org.apache.spark {
  object ListenerBusProbe {
    def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size
  }
}

package graft.obs {

  import java.util.concurrent.{Executors, TimeUnit}

  import graft.SparkSpec
  import graft.tools.MoverDiag
  import org.apache.spark.ListenerBusProbe

  class StageMetricsSpec extends SparkSpec {
    private lazy val sc = spark.sparkContext

    test("a scoped job's stages, tasks and CPU are counted") {
      val (sum, r) = StageMetrics.measure(spark) {
        sc.parallelize(1 to 200000, 4).map(x => (x.toLong * x) % 7).sum()
      }
      assert(sum > 0)
      assert(r.jobs.size == 1 && r.stages.size == 1)
      assert(r.total.tasks == 4)
      assert(r.total.cpuS > 0 && r.total.runS >= 0)
      assert(r.wallS > 0)
    }

    test("jobs run outside the scope are not counted") {
      // a thread started before the scope does not inherit its tag
      val other = Executors.newSingleThreadExecutor()
      try {
        other.submit(new Runnable { def run(): Unit = () }).get()
        sc.parallelize(1 to 100, 2).count() // before the scope
        val (_, r) = StageMetrics.measure(spark) {
          other.submit(new Runnable {
            def run(): Unit = sc.parallelize(1 to 100, 5).count()
          }).get()
          sc.parallelize(1 to 100, 3).count()
        }
        sc.parallelize(1 to 100, 2).count() // after the scope
        assert(r.jobs.size == 1)
        assert(r.total.tasks == 3)
      } finally {
        other.shutdown()
        other.awaitTermination(10, TimeUnit.SECONDS)
      }
    }

    test("the listener is removed when the scope closes, also on failure") {
      val before = ListenerBusProbe.listeners(sc)
      val (inside, _) = StageMetrics.measure(spark)(ListenerBusProbe.listeners(sc))
      assert(inside == before + 1)
      assert(ListenerBusProbe.listeners(sc) == before)
      intercept[IllegalStateException] {
        StageMetrics.measure(spark)(throw new IllegalStateException("boom"))
      }
      assert(ListenerBusProbe.listeners(sc) == before)
    }

    test("MoverDiag.queryTimes reads only the queries block of a bench line") {
      val line = """{"metric":"subset","value":3.750,"unit":"sec",""" +
        """"queries":{"q01_pricing_agg":0.250,"q98_bm25_index_topk":3.5E0},""" +
        """"sf":"sf0.1/q77_dir","cpus":4,"cpu_s":{"q01_pricing_agg":0.900}}"""
      assert(MoverDiag.queryTimes(line) ==
        Map("q01_pricing_agg" -> 0.25, "q98_bm25_index_topk" -> 3.5))
      assert(MoverDiag.queryTimes("""{"metric":"total"}""").isEmpty)
    }

    test("MoverDiag.movers flags both directions at the factor boundary") {
      val prev = Map("q_slow" -> 1.0, "q_fast" -> 2.0, "q_near_slow" -> 1.0,
        "q_near_fast" -> 1.0, "q_prev_only" -> 1.0, "q_zero" -> 0.0)
      val curr = Map("q_slow" -> 2.0, "q_fast" -> 1.0, "q_near_slow" -> 1.99,
        "q_near_fast" -> 0.51, "q_curr_only" -> 9.0, "q_zero" -> 0.3)
      val m = MoverDiag.movers(prev, curr, factor = 2.0)
      assert(m.map(_._1) == Seq("q_zero", "q_slow", "q_fast"))
      assert(m(1) == (("q_slow", 1.0, 2.0, 2.0)))
      assert(m(2) == (("q_fast", 2.0, 1.0, 0.5)))
    }
  }
}
