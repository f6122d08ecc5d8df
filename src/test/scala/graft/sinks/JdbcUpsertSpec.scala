package graft.sinks

import java.sql.{DriverManager, Timestamp}
import java.util.Properties

import graft.SparkSpec

/** End-to-end JDBC upsert against embedded Derby (the only database in
  * this container): staging write via Spark JDBC, server-side MERGE,
  * replay idempotence, and late-update wins — the reference target's
  * upsert contract (K1). */
class JdbcUpsertSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:upserttest;create=true"
  private def connect() = DriverManager.getConnection(url)
  private val props = new Properties()
  props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")

  private def readTable(): Map[String, (String, Timestamp)] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT "id", "status", "updatedDate" FROM "tasks"""")
      val b = Map.newBuilder[String, (String, Timestamp)]
      while (rs.next()) b += rs.getString(1) -> (rs.getString(2), rs.getTimestamp(3))
      b.result()
    } finally c.close()
  }

  test("writeJdbcUpsert: insert, replay idempotence, update-wins (K1)") {
    val batch1 = Seq(
      ("t1", "Active", Timestamp.valueOf("2024-01-01 00:00:00")),
      ("t1", "Completed", Timestamp.valueOf("2024-01-02 00:00:00")), // newer
      ("t2", "Active", Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "status", "updatedDate")

    Sinks.writeJdbcUpsert(batch1, url, "tasks", Seq("id"), "updatedDate",
      props, () => connect(), dialect = "merge")
    assert(readTable() == Map(
      "t1" -> ("Completed", Timestamp.valueOf("2024-01-02 00:00:00")),
      "t2" -> ("Active", Timestamp.valueOf("2024-01-01 00:00:00"))))

    // replay the same batch: idempotent
    Sinks.writeJdbcUpsert(batch1, url, "tasks", Seq("id"), "updatedDate",
      props, () => connect(), dialect = "merge")
    assert(readTable().size == 2)

    // newer version of t2 + new key t3
    val batch2 = Seq(
      ("t2", "Completed", Timestamp.valueOf("2024-01-05 00:00:00")),
      ("t3", "Active", Timestamp.valueOf("2024-01-04 00:00:00")))
      .toDF("id", "status", "updatedDate")
    Sinks.writeJdbcUpsert(batch2, url, "tasks", Seq("id"), "updatedDate",
      props, () => connect(), dialect = "merge")
    val after = readTable()
    assert(after("t2")._1 == "Completed")
    assert(after("t1")._1 == "Completed") // untouched
    assert(after.contains("t3"))
  }

  test("writeJdbcUpsert merge: flattened `-` column names land quoted") {
    // the shape Flatten's `-` separator produces from a nested `dates`
    val batch = Seq(
      ("t1", "2024-01-01", Timestamp.valueOf("2024-01-01 00:00:00")),
      ("t1", "2024-01-03", Timestamp.valueOf("2024-01-02 00:00:00")), // newer
      ("t2", "2024-02-01", Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "dates-start", "updatedDate")
    (1 to 2).foreach { _ => // the second write MERGEs onto an existing table
      Sinks.writeJdbcUpsert(batch, url, "flat_tasks", Seq("id"), "updatedDate",
        props, () => connect(), dialect = "merge")
    }
    val c = connect()
    val got = try {
      val rs = c.createStatement().executeQuery(
        """SELECT "id", "dates-start" FROM "flat_tasks"""")
      val b = Map.newBuilder[String, String]
      while (rs.next()) b += rs.getString(1) -> rs.getString(2)
      b.result()
    } finally c.close()
    assert(got == Map("t1" -> "2024-01-03", "t2" -> "2024-02-01"))
  }
}
