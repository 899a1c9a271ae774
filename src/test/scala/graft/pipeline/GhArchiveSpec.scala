package graft.pipeline

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Port of the reference's transformer unit tests
  * (/root/reference/tests/test_dl_transformer.py:48-74 and 99-121):
  * same fixture rows, same expected cells.
  */
class GhArchiveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("clean: 9-column projection, order and values match reference") {
    val raw = Seq(
      (1L, (101L, "user1", "User One"), "PushEvent",
        (201L, "repo1", "https://github.com/user1/repo1"), "2023-01-01 12:00:00"),
      (2L, (102L, "user2", "User Two"), "IssuesEvent",
        (202L, "repo2", "https://github.com/user2/repo2"), "2023-01-02 13:00:00"))
      .toDF("id", "actor_t", "type", "repo_t", "created_at")
      .selectExpr(
        "id",
        "named_struct('id', actor_t._1, 'login', actor_t._2, 'display_login', actor_t._3) AS actor",
        "type",
        "named_struct('id', repo_t._1, 'name', repo_t._2, 'url', repo_t._3) AS repo",
        "created_at")

    val df = GhArchive.clean(raw)
    assert(df.columns.toSeq == Seq("event_id", "user_id", "user_name",
      "user_display_name", "event_type", "repo_id", "repo_name", "repo_url",
      "event_date"))
    // the schema silver readers pin is clean's output over the raw schema
    assert(GhArchive.clean(spark.createDataFrame(
      java.util.List.of[Row](), GhArchive.rawSchema)).schema ==
      GhArchive.silverSchema)
    val rows = df.orderBy("event_id").collect()
    assert(rows.length == 2)
    assert(rows(0) == Row(1L, 101L, "user1", "User One", "PushEvent",
      201L, "repo1", "https://github.com/user1/repo1", "2023-01-01 12:00:00"))
  }

  test("aggregate: same-day events collapse; day rollup via timestamp cast") {
    val silver = Seq(
      ("PushEvent", 1L, "repo1", "http://repo1.com", "2023-01-01 10:00:00"),
      ("PushEvent", 1L, "repo1", "http://repo1.com", "2023-01-01 11:00:00"),
      ("IssueEvent", 2L, "repo2", "http://repo2.com", "2023-01-01 12:00:00"),
      ("PushEvent", 1L, "repo1", "http://repo1.com", "2023-01-02 10:00:00"))
      .toDF("event_type", "repo_id", "repo_name", "repo_url", "event_date")

    val df = GhArchive.aggregate(silver)
    assert(df.columns.length == 6)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
      r.getString(3), r.getTimestamp(4).toString.substring(0, 10), r.getLong(5))).toSet
    assert(got == Set(
      ("PushEvent", 1L, "repo1", "http://repo1.com", "2023-01-01", 2L),
      ("IssueEvent", 2L, "repo2", "http://repo2.com", "2023-01-01", 1L),
      ("PushEvent", 1L, "repo1", "http://repo1.com", "2023-01-02", 1L)))
  }
}
