package graft

import graft.config.Config._
import graft.events.{Event, EventManager, EventTiming}
import graft.observability.Listeners
import graft.runner.PipelineRunner
import graft.runner.PipelineRunner.{Failed, PipelineTask, Skipped, Succeeded}
import graft.state.StateStore
import graft.table.ManagedTable
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit

/** Event bus (manager.py:10-112), listeners (spark_listener.py), and the
  * local DAG runner (runner/local.py:101-150, 365-431). */
class OrchestrationSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ events

  test("ASAP events dispatch to subscribers; handler errors are contained") {
    val m = EventManager.started()
    val latch = new CountDownLatch(2)
    m.subscribe("x", _ => throw new RuntimeException("handler boom"))
    m.subscribe("x", _ => latch.countDown())
    m.push(Event("x"))
    m.push(Event("x"))
    assert(latch.await(5, TimeUnit.SECONDS))
    m.stop()
  }

  test("END events fire only at shutdown, in order") {
    val m = EventManager.started()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    m.subscribe("fin", e => { seen.add(e.payload("k")); () })
    m.push(Event("fin", EventTiming.End, payload = Map("k" -> "1")))
    m.push(Event("fin", EventTiming.End, payload = Map("k" -> "2")))
    Thread.sleep(200)
    assert(seen.isEmpty) // not yet dispatched
    m.stop()
    assert(seen.toArray.toSeq === Seq("1", "2"))
  }

  test("DELAYED events fire after their interval") {
    val m = EventManager.started()
    val latch = new CountDownLatch(1)
    m.subscribe("d", _ => latch.countDown())
    m.push(Event("d", EventTiming.Delayed, delayMs = 100))
    assert(!latch.await(50, TimeUnit.MILLISECONDS))
    assert(latch.await(5, TimeUnit.SECONDS))
    m.stop()
  }

  test("webhook notification consumer posts events to the hook URL") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val received = new java.util.concurrent.LinkedBlockingQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/hook", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        received.put(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(200, -1); ex.close()
      }
    })
    server.createContext("/broken", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        received.put("broken-hit")
        ex.sendResponseHeaders(500, -1); ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      val m = EventManager.started()
      // no static message -> the event itself is serialized
      m.subscribe("task_done", graft.events.Webhook.notificationHandler(s"$base/hook"))
      // static message consumers post it verbatim (event/__init__.py:128)
      m.subscribe("task_done",
        graft.events.Webhook.notificationHandler(s"$base/hook", Some("""{"text":"done"}""")))
      // failing hooks are contained, like the reference's warning path
      m.subscribe("task_done", graft.events.Webhook.notificationHandler(s"$base/broken"))
      m.push(Event("task_done", severity = "INFO", payload = Map("rows" -> "42")))
      val bodies = (1 to 3).map(_ => received.poll(5, TimeUnit.SECONDS)).toSet
      assert(bodies.contains("""{"text":"done"}"""))
      assert(bodies.contains("broken-hit"))
      val dynamic = bodies.find(b => b != null && b.contains("task_done")).get
      assert(dynamic.contains(""""rows":"42""""))
      m.stop()
      // direct post raises on non-2xx like raise_for_status
      intercept[graft.events.WebhookRequestException](
        graft.events.Webhook.post(s"$base/broken", "{}"))
    } finally server.stop(0)
  }

  // --------------------------------------------------------- listeners

  test("query-execution listener persists plan records to the state store") {
    val root = tmpDir("listeners")
    val store = new StateStore(spark.sparkContext.hadoopConfiguration, root)
    val unregister = Listeners.register(spark, store, "t1")
    try {
      Seq(1, 2, 3).toDF("v").selectExpr("sum(v)").collect()
      // listener callbacks are async — poll briefly
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dir = new org.apache.hadoop.fs.Path(s"$root/state/t1_queries")
      var tries = 0
      while (tries < 50 && !fs.exists(dir)) { Thread.sleep(100); tries += 1 }
      assert(fs.exists(dir), "no query records persisted")
      val files = fs.listStatus(dir)
      assert(files.nonEmpty)
    } finally unregister()
  }

  // ------------------------------------------------------------ runner

  private def appendTask(name: String, src: String, sink: String): PipelineTask =
    PipelineTask(name, TaskConf(name,
      inputs = Seq(InputConf(s"${name}_in", src, "parquet")),
      executionSql = Some(s"SELECT * FROM ${name}_in"),
      outputs = Seq(OutputConf(s"${name}_out", sink, writeType = "append",
        options = Map("now" -> "2026-01-01 00:00:00")))))

  test("DAG runner: topological order, downstream sees upstream output") {
    val src = tmpDir("dag_src")
    Seq((1, "a")).toDF("id", "v").write.parquet(src)
    val mid = tmpDir("dag_mid")
    val fin = tmpDir("dag_fin")
    // b reads a's managed output (source "graft")
    val a = appendTask("a", src, mid)
    val b = PipelineTask("b", TaskConf("b",
      inputs = Seq(InputConf("b_in", mid, "graft")),
      executionSql = Some("SELECT * FROM b_in"),
      outputs = Seq(OutputConf("b_out", fin, writeType = "append",
        options = Map("now" -> "2026-01-01 00:00:00")))),
      dependsOn = Seq("a"))
    val statuses = PipelineRunner.run(spark, Seq(b, a))
    assert(statuses("a") === Succeeded && statuses("b") === Succeeded)
    assert(ManagedTable(spark, fin).read.count() === 1)
  }

  test("fail-fast: failed task marks transitive dependents skipped, unrelated run") {
    val src = tmpDir("ff_src")
    Seq((1, "a")).toDF("id", "v").write.parquet(src)
    val bad = PipelineTask("bad", TaskConf("bad",
      inputs = Seq(InputConf("i", "/nonexistent/path/nope", "parquet")),
      executionSql = Some("SELECT * FROM i"),
      outputs = Seq(OutputConf("o", tmpDir("ff_bad_out"), writeType = "append"))))
    val dep = appendTask("dep", src, tmpDir("ff_dep_out")).copy(dependsOn = Seq("bad"))
    val dep2 = PipelineTask("dep2", dep.conf, dependsOn = Seq("dep"))
    val ok = appendTask("ok", src, tmpDir("ff_ok_out"))
    val statuses = PipelineRunner.run(spark, Seq(bad, dep, dep2, ok))
    assert(statuses("bad").isInstanceOf[Failed])
    assert(statuses("dep") === Skipped && statuses("dep2") === Skipped)
    assert(statuses("ok") === Succeeded)
  }

  test("cycle detection") {
    val t1 = PipelineTask("t1", null, dependsOn = Seq("t2"))
    val t2 = PipelineTask("t2", null, dependsOn = Seq("t1"))
    assertThrows[PipelineRunner.CycleError] {
      PipelineRunner.topoBatches(Seq(t1, t2))
    }
  }

  test("concurrent tasks with same-named inputs don't collide (session isolation)") {
    val srcA = tmpDir("iso_a"); val srcB = tmpDir("iso_b")
    Seq(("A", 1)).toDF("tag", "n").write.parquet(srcA)
    Seq(("B", 2)).toDF("tag", "n").write.parquet(srcB)
    val sinkA = tmpDir("iso_sink_a"); val sinkB = tmpDir("iso_sink_b")
    def mk(name: String, src: String, sink: String) = PipelineTask(name,
      TaskConf(name,
        inputs = Seq(InputConf("src", src, "parquet")), // SAME input name
        executionSql = Some("SELECT tag, n FROM src"),
        outputs = Seq(OutputConf("out", sink, writeType = "append",
          options = Map("now" -> "2026-01-01 00:00:00")))))
    // both tasks in one topo batch -> run concurrently on the shared context
    val statuses = PipelineRunner.run(spark,
      Seq(mk("ta", srcA, sinkA), mk("tb", srcB, sinkB)))
    assert(statuses("ta") === Succeeded && statuses("tb") === Succeeded)
    import spark.implicits._
    assert(ManagedTable(spark, sinkA).read.select("tag").as[String].head() === "A")
    assert(ManagedTable(spark, sinkB).read.select("tag").as[String].head() === "B")
  }
}
