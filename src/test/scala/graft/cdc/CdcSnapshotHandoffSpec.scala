package graft.cdc

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The full Debezium lifecycle in one spec — `snapshot.mode: initial`
  * semantics: a JDBC snapshot of the live database (op='r', null lsn)
  * hands off to the live change stream (u/d with WAL lsns), both phases
  * transported through ONE checkpointed streaming query, and the
  * consumer-side latest-state materialization resolves them: any live
  * change beats any snapshot row (non-null lsn wins), deletes remove,
  * untouched keys keep their snapshot image.
  */
class CdcSnapshotHandoffSpec extends SparkSpec {

  private val FixedTs = 1763741884000L

  test("JDBC snapshot → live changes through one stream → latest state") {
    import spark.implicits._
    // live database: the reference customers table, 4 rows
    val url = s"jdbc:derby:${tmpDir("derby-handoff")}/db;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE customers (
          |  id INT PRIMARY KEY, name VARCHAR(255) NOT NULL,
          |  email VARCHAR(255) NOT NULL)""".stripMargin)
      for ((id, n, e) <- Seq((1, "Alice", "a@x.io"), (2, "Bob", "b@x.io"),
          (3, "Carol", "c@x.io"), (4, "Dave", "d@x.io")))
        st.executeUpdate(s"INSERT INTO customers VALUES ($id, '$n', '$e')")
    } finally conn.close()

    val in = tmpDir("handoff-in")
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

    // phase 1: snapshot the database (op='r', lsn null — as Debezium's
    // snapshot phase emits before it knows a WAL position)
    val snap = CdcSource.snapshotJdbc(spark, url,
      """(SELECT id AS "id", name AS "name", email AS "email"
        | FROM customers) src""".stripMargin,
      "inventory", "public", "customers",
      props = props, fixedTsMs = Some(FixedTs))
    Files.write(Paths.get(in, "batch0.jsonl"),
      snap.collect().map(_.getString(0)).mkString("\n").getBytes)

    // phase 2: live changes AFTER the snapshot — update Bob, delete Carol
    val upd = CdcSource.changes(
      Seq((2, "Bobby", "bobby@x.io")).toDF("id", "name", "email"),
      "u", "inventory", "public", "customers",
      org.apache.spark.sql.functions.lit(11L), fixedTsMs = Some(FixedTs))
    val del = CdcSource.changes(
      Seq((3, "Carol", "c@x.io")).toDF("id", "name", "email"),
      "d", "inventory", "public", "customers",
      org.apache.spark.sql.functions.lit(12L), fixedTsMs = Some(FixedTs))
    Files.write(Paths.get(in, "batch1.jsonl"),
      (upd.collect() ++ del.collect()).map(_.getString(0))
        .mkString("\n").getBytes)

    // one checkpointed stream carries BOTH phases (maxFilesPerTrigger=1 →
    // snapshot and changes arrive in separate micro-batches, as they
    // would from a connector)
    val sink = tmpDir("handoff-sink")
    val ckpt = tmpDir("handoff-ckpt")
    val q = spark.readStream.format("graft-cdc")
      .schema(graft.sources.CdcDataSource.ValueOnlySchema)
      .option("maxFilesPerTrigger", 1).load(in)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2,
      "snapshot and changes must arrive as two micro-batches")

    // consumer-side materialization over everything the stream delivered
    val state = CdcMaterialize
      .latestState(CdcEnvelope.parse(spark.read.parquet(sink)))
      .orderBy(col("id"))
      .select("id", "name", "email", "last_lsn").collect()
    assert(state.map(_.getInt(0)).toSeq == Seq(1, 2, 4), "Carol deleted")
    val byId = state.map(r => r.getInt(0) -> r).toMap
    assert(byId(2).getString(1) == "Bobby" && byId(2).getLong(3) == 11L,
      "live update beats the snapshot image")
    assert(byId(1).getString(1) == "Alice" && byId(1).isNullAt(3),
      "untouched key keeps its snapshot image (null lsn)")
    assert(byId(4).getString(1) == "Dave")
  }
}
