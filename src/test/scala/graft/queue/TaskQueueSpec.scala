package graft.queue

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec
import graft.meta.{MetaStore, Model}

/** Queue semantics ported from the reference
  * (service_task_queue.go): claim gating, oldest-first order,
  * result merge, retry-once, flush. */
class TaskQueueSpec extends SparkSpec {

  private def newQueue(): TaskQueue = {
    val tick = new AtomicLong(0)
    val clock = () => Instant.parse("2026-01-01T00:00:00Z")
      .plusSeconds(tick.incrementAndGet())
    new TaskQueue(new MetaStore(spark, Files.createTempDirectory("queue").toString), clock)
  }

  test("claim respects the running-count concurrency gate") {
    val q = newQueue()
    q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map("from" -> "2026-01-01"))
    q.enqueue("db", "t", Model.TaskKind.ExpireSnapshots, "spark", Map.empty)
    val first = q.claim(concurrency = 1)
    assert(first.exists(_.kind == Model.TaskKind.Optimize)) // oldest first
    assert(q.claim(concurrency = 1).isEmpty)                // gate closed
    assert(q.claim(concurrency = 2).isDefined)              // higher limit admits
  }

  test("complete merges results shallow last-wins and sets terminal status") {
    val q = newQueue()
    val id = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    val t = q.claim(1).get
    assert(t.id == id)
    assert(q.complete(id, Map("rewritten" -> "5", "stage" -> "one"), None))
    // completing twice fails (no longer running)
    assert(!q.complete(id, Map.empty, None))
    val (rows, _) = q.list(Seq(Model.TaskStatus.Success), 10, 0)
    assert(rows.head.result == Map("rewritten" -> "5", "stage" -> "one"))
    assert(rows.head.finishedAt.isDefined)
  }

  test("retry clones an errored task once and only once") {
    val q = newQueue()
    val id = q.enqueue("db", "t", Model.TaskKind.RemoveOrphanFiles, "spark", Map("k" -> "v"))
    q.claim(1)
    q.complete(id, Map.empty, Some("boom"))
    val cloneId = q.retry(id)
    assert(cloneId.isDefined && cloneId.get != id)
    assert(q.retry(id).isEmpty) // already retried
    val clone = q.claim(1).get
    assert(clone.id == cloneId.get && clone.input == Map("k" -> "v"))
  }

  test("counts groups live statuses; flush removes terminal rows") {
    val q = newQueue()
    val a = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    q.claim(1)
    assert(q.counts() == Map(Model.TaskStatus.Queued -> 1L, Model.TaskStatus.Running -> 1L))
    q.complete(a, Map.empty, None)
    assert(q.flush() == 1)
    assert(q.counts() == Map(Model.TaskStatus.Queued -> 1L))
  }

  test("task ids are never reused after flush") {
    val q = newQueue()
    val a = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    val b = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    q.claim(2); q.claim(2)
    q.complete(a, Map.empty, None)
    q.complete(b, Map.empty, None)
    assert(q.flush() == 2)
    // the queue is empty, but the high-water mark persists: the next id
    // must be above BOTH flushed ids, so stale references can't collide.
    val c = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    assert(c > b, s"id $c reused after flush of $a/$b")
  }

  test("mid-flight nested result update lands under its key for running tasks only") {
    val q = newQueue()
    val id = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    assert(!q.updateResultNested(id, "procedure", Map("rows" -> "3"))) // not running yet
    q.claim(1)
    assert(q.updateResultNested(id, "procedure", Map("rows" -> "3", "query" -> "CALL x")))
    q.complete(id, Map("files" -> "2"), None)
    val (rows, _) = q.list(Seq(Model.TaskStatus.Success), 10, 0)
    assert(rows.head.result("procedure") == """{"query":"CALL x","rows":"3"}""")
    assert(rows.head.result("files") == "2") // completion merge kept the slot
    intercept[IllegalArgumentException] { q.updateResultNested(id, "  ", Map.empty) }
  }

  test("concurrent claims never double-claim and respect the gate") {
    val q = newQueue()
    (1 to 6).foreach(_ =>
      q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val claimed = Await.result(
      Future.sequence((1 to 8).map(_ => Future(q.claim(concurrency = 4)))), 60.seconds)
      .flatten
    // gate: at most 4 running; each claimed id unique
    assert(claimed.size == 4)
    assert(claimed.map(_.id).distinct.size == 4)
    assert(q.counts()(Model.TaskStatus.Running) == 4L)
  }

  test("unknown task kind is rejected") {
    val q = newQueue()
    intercept[IllegalArgumentException] {
      q.enqueue("db", "t", "vacuum", "spark", Map.empty)
    }
  }

  test("retryAll clones every errored unretried task oldest-first, scoped by db") {
    val q = newQueue()
    val a = q.enqueue("db1", "t", Model.TaskKind.Optimize, "spark", Map("k" -> "a"))
    val b = q.enqueue("db2", "t", Model.TaskKind.Optimize, "spark", Map("k" -> "b"))
    val c = q.enqueue("db1", "t", Model.TaskKind.Optimize, "spark", Map("k" -> "c"))
    Seq(a, b, c).foreach { id =>
      while (q.claim(100).exists(_.id != id)) {}
      q.complete(id, Map.empty, Some("boom"))
    }
    // per-db scope: only db1's two errored tasks clone; originals flagged
    assert(q.retryAll(Some("db1")) == 2L)
    val (rows, _) = q.list(Seq.empty, 100, 0)
    val clones = rows.filter(t => t.status == Model.TaskStatus.Queued)
    assert(clones.map(_.input("k")).toSet == Set("a", "c"))
    // oldest-first: a's clone got the smaller id
    assert(clones.minBy(_.id).input("k") == "a")
    assert(rows.filter(_.id == a).forall(_.retried))
    // global pass picks up the remaining db2 task, then nothing is left
    assert(q.retryAll(None) == 1L)
    assert(q.retryAll(None) == 0L)
  }

  test("filtered list and per-db counts/flush honor their scopes") {
    val q = newQueue()
    val a = q.enqueue("db1", "t1", Model.TaskKind.Optimize, "spark", Map.empty)
    q.enqueue("db1", "t2", Model.TaskKind.ExpireSnapshots, "spark", Map.empty)
    q.enqueue("db2", "t1", Model.TaskKind.Optimize, "trino", Map.empty)
    // kind + table filters, reference default limit 20 when limit <= 0
    val (byKind, totalKind) = q.list(Some("db1"), None,
      Seq(Model.TaskKind.Optimize), Seq.empty, 0, 0)
    assert(totalKind == 1L && byKind.head.id == a)
    val (byTable, _) = q.list(None, Some("t1"), Seq.empty, Seq.empty, 0, 0)
    assert(byTable.map(_.database).toSet == Set("db1", "db2"))
    // per-db counts see only their database's queued rows
    assert(q.counts(Some("db1"))(Model.TaskStatus.Queued) == 2L)
    assert(q.counts(Some("db2"))(Model.TaskStatus.Queued) == 1L)
    // per-db flush drops only db1's terminal rows
    while (q.claim(100).exists(_.id != a)) {}
    q.complete(a, Map.empty, None)
    assert(q.flush(Some("db2")) == 0L) // db2 has no terminal rows
    assert(q.flush(Some("db1")) == 1L)
    assert(q.list(Seq.empty, 100, 0)._2 == 2L)
  }

  test("list pagination saturates offset + limit instead of overflowing") {
    val q = newQueue()
    val a = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    // newest first: offset 1 skips the second task, leaving the first
    val (rows, total) = q.list(Seq.empty, Int.MaxValue, 1)
    assert(total == 2L)
    assert(rows.map(_.id) == Seq(a))
    assert(q.list(Seq.empty, Int.MaxValue, Int.MaxValue)._1.isEmpty)
  }

  test("two queues over two stores on one root interleave and agree") {
    val root = Files.createTempDirectory("queue-two").toString
    val tick = new AtomicLong(0)
    val clock = () => Instant.parse("2026-01-01T00:00:00Z").plusSeconds(tick.incrementAndGet())
    val q1 = new TaskQueue(new MetaStore(spark, root), clock)
    val q2 = new TaskQueue(new MetaStore(spark, root), clock)
    try {
      val a = q1.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
      val b = q2.enqueue("db", "t", Model.TaskKind.ExpireSnapshots, "spark", Map.empty)
      assert(b == a + 1)
      assert(q2.claim(1).map(_.id).contains(a)) // oldest first, across stores
      assert(q1.claim(1).isEmpty)               // q1 sees q2's running row
      assert(q1.counts() == Map(Model.TaskStatus.Running -> 1L, Model.TaskStatus.Queued -> 1L))
      assert(q1.complete(a, Map("n" -> "1"), None))
      assert(!q2.complete(a, Map.empty, None))  // q2 sees q1's completion
      assert(q2.counts() == Map(Model.TaskStatus.Queued -> 1L))
      assert(q2.claim(1).map(_.id).contains(b))
      assert(q2.complete(b, Map.empty, Some("boom")))
      val c = q1.retryAuto(b)
      assert(c.contains(b + 1))
      assert(q1.list(Seq.empty, 10, 0) == q2.list(Seq.empty, 10, 0))
      assert(q2.counts(Some("db")) == q1.counts(Some("db")))
      assert(q2.flush() == 2L)
      assert(q1.list(Seq.empty, 10, 0)._1.map(_.id) == c.toSeq)
    } finally { q1.close(); q2.close() }
  }

  test("after flush a fresh queue allocates above the flushed maximum; allocation writes no setting") {
    val root = Files.createTempDirectory("queue-hwm").toString
    val q = new TaskQueue(new MetaStore(spark, root))
    val a = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    val b = q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    assert(!Files.exists(java.nio.file.Paths.get(root, "settings")))
    // removing a lower id leaves the live maximum in place: no mark
    q.claim(1); q.complete(a, Map.empty, None)
    assert(q.flush() == 1L)
    assert(!Files.exists(java.nio.file.Paths.get(root, "settings")))
    // removing the highest id persists it first
    q.claim(1); q.complete(b, Map.empty, None)
    assert(q.flush() == 1L)
    q.close()
    val fresh = new TaskQueue(new MetaStore(spark, root))
    try {
      val c = fresh.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
      assert(c == b + 1, s"id $c after flushing up to $b")
    } finally fresh.close()
  }

  test("a repeat enqueue starts no Spark job") {
    val q = newQueue()
    q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty)
    assert(jobsDuring {
      q.enqueue("db", "t", Model.TaskKind.Optimize, "spark", Map.empty); ()
    } == 0)
    assert(jobsDuring { q.counts(); q.list(Seq.empty, 10, 0); () } == 0)
  }
}
