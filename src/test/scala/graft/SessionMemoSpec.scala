package graft

import graft.core.SessionMemo
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Session-retirement semantics: a service JVM cycling request-scoped
  * sessions must be able to free a retired session's memoized cached
  * blocks eagerly (VERDICT r8 follow-up), not wait for 8-session LRU
  * pressure. */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("clear(session) evicts exactly that session's values and reruns builds after") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo    = new SessionMemo[String](onEvict = evicted += _)
    val s2      = spark.newSession()
    assert(memo.getOrElseUpdate(spark, "k")("a") === "a")
    assert(memo.getOrElseUpdate(s2, "k")("b") === "b")
    memo.clear(spark)
    assert(evicted.toSeq === Seq("a"))
    // other session untouched; cleared session rebuilds
    assert(memo.getOrElseUpdate(s2, "k")(fail("must be memoized")) === "b")
    assert(memo.getOrElseUpdate(spark, "k")("a2") === "a2")
    memo.clear(spark) // idempotent on repeat + safe on unseen sessions
    memo.clear(spark.newSession())
    assert(evicted.toSeq === Seq("a", "a2"))
  }

  test("buildCount ticks on misses only — the bench's mid-sweep rebuild detector") {
    val memo = new SessionMemo[String]()
    val c0 = SessionMemo.buildCount
    assert(memo.getOrElseUpdate(spark, "k")("v") === "v")
    assert(SessionMemo.buildCount === c0 + 1, "a build must tick the counter")
    assert(memo.getOrElseUpdate(spark, "k")(fail("must be memoized")) === "v")
    assert(SessionMemo.buildCount === c0 + 1, "a hit must NOT tick the counter")
    memo.remove(spark, "k")
    assert(memo.getOrElseUpdate(spark, "k")("v2") === "v2")
    assert(SessionMemo.buildCount === c0 + 2, "an evicted key's rebuild must tick — " +
      "this is exactly the round-11 bench-regression signal")
  }

  test("evictDir drops only that session's keys equal to or under the dir, across ALL memos") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val m1 = new SessionMemo[String](onEvict = evicted += _)
    val m2 = new SessionMemo[String](onEvict = evicted += _)
    val s  = spark.newSession()
    val other = spark.newSession()
    m1.getOrElseUpdate(s, "/c/d")("dir")
    m1.getOrElseUpdate(s, "/c/d/*.parquet")("glob")
    m2.getOrElseUpdate(s, "/c/d/documents.parquet")("file")
    m2.getOrElseUpdate(s, "/c/dd")("sibling")       // shares the prefix, not the dir
    m2.getOrElseUpdate(s, "/c")("parent")
    m1.getOrElseUpdate(other, "/c/d")("other-session")
    SessionMemo.evictDir(s, "/c/d/")                 // a trailing slash names the same dir
    assert(evicted.toSet === Set("dir", "glob", "file"), "onEvict runs on every swept value")
    assert(m1.getOrElseUpdate(s, "/c/d")("rebuilt") === "rebuilt")
    assert(m2.getOrElseUpdate(s, "/c/dd")(fail("sibling dir must survive")) === "sibling")
    assert(m2.getOrElseUpdate(s, "/c")(fail("parent dir must survive")) === "parent")
    assert(m1.getOrElseUpdate(other, "/c/d")(fail("other session must survive")) === "other-session")
    SessionMemo.release(s)
    SessionMemo.release(other)
  }

  test("release(session) unpersists memoized cached frames across ALL memos") {
    // a DEDICATED session: release() sweeps every memo in the process for
    // the given session, so releasing the shared test session here would
    // wipe other suites' memoized fixtures (LlmQueries caches) mid-run
    val s = spark.newSession()
    val m1 = new SessionMemo[org.apache.spark.sql.DataFrame](onEvict = _.unpersist())
    val m2 = new SessionMemo[org.apache.spark.sql.DataFrame](onEvict = _.unpersist())
    val df1 = s.range(10).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
    val df2 = s.range(20).toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
    df1.count(); df2.count()
    m1.getOrElseUpdate(s, "a")(df1)
    m2.getOrElseUpdate(s, "b")(df2)
    assert(df1.storageLevel !== StorageLevel.NONE)
    SessionMemo.release(s)
    assert(df1.storageLevel === StorageLevel.NONE, "retired session's blocks must free")
    assert(df2.storageLevel === StorageLevel.NONE, "every memo in the process is swept")
  }
}
