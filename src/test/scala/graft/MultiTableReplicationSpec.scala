package graft

import org.apache.spark.sql.types._

import graft.schema.SchemaRegistry
import graft.streaming.{MultiTableReplication, ReplicationJob}
import graft.streaming.MultiTableReplication.Dirs

/** Multi-table, config-driven replication (the reference's one-pipeline-
  * per-table model, `cassandra-source.json:12-13`): two differently-shaped
  * tables — different pk names, schemas, ts units and constraint policies
  * — replicate CONCURRENTLY through the same code path, each with its own
  * LWW state, DLQ, TRUNCATE and schema evolution.
  */
class MultiTableReplicationSpec extends SparkSpecBase {

  // users-like table: string pk "id", µs timestamps, no constrained
  // numeric column (valueCol = None)
  private val usersSchema = MultiTableReplication.withPk(StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("id", StringType),
    StructField("event_type", StringType),
    StructField("username", StringType),
    StructField("email", StringType))), Seq("id"))

  // orders-like table: string pk "order_id", ns timestamps, range-
  // constrained "total"
  private val ordersSchema = MultiTableReplication.withPk(StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("order_id", StringType),
    StructField("event_type", StringType),
    StructField("total", DoubleType),
    StructField("status", StringType))), Seq("order_id"))

  private val cdcTypes = Seq("create", "update", "delete", "truncate")

  private def writeUsers(dir: String, file: String,
      rows: Seq[(Long, Long, String, String, String, String)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "id", "event_type", "username", "email")
      .coalesce(1).write.parquet(s"$dir/$file")
    promote(dir, file)
  }

  private def writeOrders(dir: String, file: String,
      rows: Seq[(Long, Long, String, String, java.lang.Double, String)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "order_id", "event_type", "total", "status")
      .coalesce(1).write.parquet(s"$dir/$file")
    promote(dir, file)
  }

  /** The file stream source wants a flat dir of files; lift the single
    * part-file out of the per-write subdir it was staged into.
    */
  private def promote(dir: String, file: String): Unit = {
    import java.nio.file.{Files, Paths}
    val sub = Paths.get(dir, file)
    val listing = Files.list(sub)
    val part =
      try listing.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      finally listing.close()
    Files.move(part, Paths.get(dir, s"$file.parquet"))
    Files.walk(sub).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
  }

  private def registryWithBoth(base: String): SchemaRegistry = {
    val reg = new SchemaRegistry(s"$base/registry.tsv")
    reg.register("users", usersSchema, nowUs = 1L)
    reg.register("orders", ordersSchema, nowUs = 1L)
    reg
  }

  private def configs(reg: SchemaRegistry, dirs: Dirs): (ReplicationJob.Config, ReplicationJob.Config) = {
    val usersPolicy = ReplicationJob.Config("", "", "", "",
      validTypes = cdcTypes, deleteType = "delete", truncateType = "truncate",
      tsDivisorToMicros = 1L, valueCol = None)
    val ordersPolicy = ReplicationJob.Config("", "", "", "",
      validTypes = cdcTypes, deleteType = "delete", truncateType = "truncate",
      tsDivisorToMicros = 1000L, valueCol = Some("total"), maxValue = 500.0)
    (MultiTableReplication.configFor(reg, "users", dirs, usersPolicy),
     MultiTableReplication.configFor(reg, "orders", dirs, ordersPolicy))
  }

  test("pk + schema round-trip through one registry row") {
    val base = tmpDir("mtreg")
    val reg = registryWithBoth(base)
    val (uv, us) = reg.current("users").get
    assert(uv == 1 && MultiTableReplication.pkOf(us) == Seq("id"))
    val (_, os) = reg.current("orders").get
    assert(MultiTableReplication.pkOf(os) == Seq("order_id"))
    // pk fields are non-nullable (type_mapper.py:225's rule); the marker
    // strips cleanly for data-schema comparison
    assert(!us("id").nullable)
    assert(MultiTableReplication.pkOf(MultiTableReplication.withoutPk(us)).isEmpty)
  }

  test("two differently-shaped tables replicate concurrently: LWW, DLQ, TRUNCATE per table") {
    val base = tmpDir("mtrepl")
    val dirs = Dirs(base)
    val reg = registryWithBoth(base)
    val (usersCfg, ordersCfg) = configs(reg, dirs)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source("users")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source("orders")))

    // users batch 1 (µs ts): creates + an out-of-order update pair
    writeUsers(dirs.source("users"), "b0", Seq(
      (1L, 1000L, "u1", "create", "alice", "a@x"),
      (2L, 3000L, "u1", "update", "alice2", "a2@x"),   // LWW winner for u1
      (3L, 1500L, "u2", "create", "bob", "b@x"),
      (4L, 500L, "u3", "create", "carol", "c@x")))
    // users batch 2: a LATE, OLDER update for u1 (must lose cross-batch),
    // a truncate at ts=1200 (clears u3@500; u1@3000 + u2@1500 survive),
    // and two invalid rows (null pk; unknown op) → users DLQ
    writeUsers(dirs.source("users"), "b1", Seq(
      (5L, 2000L, "u1", "update", "stale", "s@x"),
      (6L, 1200L, "-", "truncate", null, null),
      (7L, 1700L, null, "create", "nopk", "n@x"),
      (8L, 1800L, "u9", "bogus_op", "badop", "o@x")))

    // orders stream (ns ts): LWW pair on A, constraint violation (600 >
    // 500), null total, and a soft delete on D
    writeOrders(dirs.source("orders"), "b0", Seq(
      (11L, 1000000L, "A", "create", 10.0, "pending"),
      (12L, 3000000L, "A", "update", 20.0, "shipped"), // LWW winner for A
      (13L, 2000000L, "B", "create", 600.0, "pending"),   // CONSTRAINT_VIOLATION
      (14L, 1000000L, "C", "create", null, "pending"),    // TYPE_CONVERSION_ERROR
      (15L, 4000000L, "D", "delete", 5.0, "cancelled")))

    MultiTableReplication.runAvailableNow(spark, Seq(usersCfg, ordersCfg))

    // users: LWW winner u1@3000 with the newer image; u3 truncated away
    val users = ReplicationJob.targetState(spark, usersCfg)
      .select("id", "_cdc_timestamp_micros", "username").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(users == Map("u1" -> ((3000L, "alice2")), "u2" -> ((1500L, "bob"))),
      s"users state: $users")
    val usersDlq = spark.read.parquet(usersCfg.dlqDir)
      .select("event_id", "error_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(usersDlq == Map(7L -> "SCHEMA_MISMATCH", 8L -> "SCHEMA_MISMATCH"),
      s"users DLQ: $usersDlq")

    // orders: LWW winner A@3000µs; D soft-deleted; B/C in orders DLQ with
    // the constraint taxonomy — isolated from users' DLQ
    val orders = ReplicationJob.targetState(spark, ordersCfg)
      .select("order_id", "_cdc_timestamp_micros", "total", "_cdc_deleted").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(orders == Map(
      "A" -> ((3000L, 20.0, false)),
      "D" -> ((4000L, 5.0, true))), s"orders state: $orders")
    val ordersDlq = spark.read.parquet(ordersCfg.dlqDir)
      .select("order_id", "error_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ordersDlq == Map("B" -> "CONSTRAINT_VIOLATION", "C" -> "TYPE_CONVERSION_ERROR"),
      s"orders DLQ: $ordersDlq")
  }

  test("FR-024 per-table channels: a tripped table-A breaker leaves table-B admission whole") {
    import graft.streaming.AdmissionControl
    val base = tmpDir("mtbp")
    val dirs = Dirs(base)
    val reg = registryWithBoth(base)
    val withBp = ReplicationJob.Config("", "", "", "",
      validTypes = cdcTypes, deleteType = "delete", truncateType = "truncate",
      tsDivisorToMicros = 1L, valueCol = None,
      backpressureChannel = Some("bp"))
    val usersCfg = MultiTableReplication.configFor(reg, "users", dirs, withBp)
    val ordersCfg = MultiTableReplication.configFor(reg, "orders", dirs,
      withBp.copy(tsDivisorToMicros = 1000L, valueCol = Some("total"), maxValue = 500.0))
    // configFor mints one channel per table under the job-level prefix
    assert(usersCfg.backpressureChannel.contains("bp.users"))
    assert(ordersCfg.backpressureChannel.contains("bp.orders"))

    val usersBreaker = new graft.util.CircuitBreaker(failureThreshold = 1, openMs = 3600000L)
    // users channel: near-zero latency target, so ANY real batch report
    // lands it below full admission — observable proof the users sink
    // reported to ITS channel; orders channel: a generous 300 s target
    // stays at full admission for a healthy sink REGARDLESS of host
    // contention (the default 2 s target made this assertion wall-clock
    // sensitive: a loaded 32-thread test host can push a tiny batch
    // past 2 s and shrink admission, which is correct behavior but not
    // what this test is about — it proves per-table ISOLATION)
    AdmissionControl.register("bp.users",
      AdmissionControl.SinkHealth(breaker = Some(usersBreaker),
        targetBatchSeconds = 1e-9, probeRows = 64L))
    AdmissionControl.register("bp.orders",
      AdmissionControl.SinkHealth(targetBatchSeconds = 300.0))
    try {
      assert(AdmissionControl.admit("bp.users", 1000L) == 1000L)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source("users")))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source("orders")))
      writeUsers(dirs.source("users"), "b0", Seq(
        (1L, 1000L, "u1", "create", "alice", "a@x")))
      writeOrders(dirs.source("orders"), "b0", Seq(
        (11L, 1000000L, "A", "create", 10.0, "pending")))
      MultiTableReplication.runAvailableNow(spark, Seq(usersCfg, ordersCfg))
      assert(ReplicationJob.targetState(spark, usersCfg).count() == 1L)
      assert(ReplicationJob.targetState(spark, ordersCfg).count() == 1L)
      // each sink reported wall time to its own channel: users (impossible
      // target) shrank to the probe floor, orders (sane target) stayed full
      assert(AdmissionControl.admit("bp.users", 1000L) == 64L,
        "users sink must have reported latency on bp.users")
      assert(AdmissionControl.admit("bp.orders", 1000L) == 1000L)
      // trip ONLY the users sink's breaker: users admission pauses to 0,
      // orders admission is untouched — per-table isolation, the design
      // intent the shared-channel shape would violate
      intercept[RuntimeException](usersBreaker.call(
        throw new RuntimeException("users sink down")))
      assert(usersBreaker.state == usersBreaker.Open)
      assert(AdmissionControl.admit("bp.users", 1000L) == 0L)
      assert(AdmissionControl.admit("bp.orders", 1000L) == 1000L)
    } finally {
      AdmissionControl.clear("bp.users")
      AdmissionControl.clear("bp.orders")
    }
  }

  test("per-table schema evolution: v2 column arrives without touching the other table") {
    val base = tmpDir("mtevo")
    val dirs = Dirs(base)
    val reg = registryWithBoth(base)
    val (usersCfg0, ordersCfg) = configs(reg, dirs)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source("users")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source("orders")))

    writeUsers(dirs.source("users"), "b0", Seq(
      (1L, 1000L, "u1", "create", "alice", "a@x")))
    writeOrders(dirs.source("orders"), "b0", Seq(
      (11L, 1000000L, "A", "create", 10.0, "pending")))
    MultiTableReplication.runAvailableNow(spark, Seq(usersCfg0, ordersCfg))

    // evolve users only: additive "country" column, registered as v2 with
    // pk metadata carried over (Evolution.evolve keeps current fields)
    val v2 = graft.schema.Evolution.evolve(usersSchema,
      StructType(Seq(StructField("country", StringType))))
    assert(reg.register("users", v2, nowUs = 2L) == 2)

    // new source file already carries the column; the refreshed config is
    // rebuilt from the registry (same checkpoint — no state reset)
    import spark.implicits._
    Seq((2L, 2000L, "u2", "create", "dora", "d@x", "NZ"))
      .toDF("event_id", "ts", "id", "event_type", "username", "email", "country")
      .coalesce(1).write.parquet(s"${dirs.source("users")}/b1")
    promote(dirs.source("users"), "b1")
    val usersCfg1 = MultiTableReplication.configFor(reg, "users", dirs, usersCfg0)
    assert(MultiTableReplication.pkOf(usersCfg1.schema) == Seq("id"))
    assert(usersCfg1.schema.fieldNames.contains("country"))
    MultiTableReplication.runAvailableNow(spark, Seq(usersCfg1))

    val state = ReplicationJob.targetState(spark, usersCfg1)
      .select("id", "country").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(state == Map("u1" -> None, "u2" -> Some("NZ")),
      s"old rows null-padded, new rows typed: $state")
    // orders untouched by users' evolution
    assert(ReplicationJob.targetState(spark, ordersCfg).count() == 1L)
  }

  test("round-5 integration: two tables, event-log sources, backpressure channels, one JDBC target") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.AdmissionControl
    // users rides the commit-log DSv2 source with its own backpressure
    // channel into a LIVE JDBC target; orders rides a second log into the
    // parquet store — every round-5 seam in one run
    val base = tmpDir("mtint")
    val dirs = Dirs(base)
    val reg = registryWithBoth(base)
    val (usersCfg0, ordersCfg0) = configs(reg, dirs)

    val usersLog = s"$base/users/log"
    Files.createDirectories(Paths.get(usersLog))
    Files.writeString(Paths.get(usersLog, "seg-000.log"),
      Seq(
        """{"event_id":1,"ts":1000,"id":"u1","event_type":"create","username":"alice","email":"a@x"}""",
        """{"event_id":2,"ts":3000,"id":"u1","event_type":"update","username":"alice2","email":"a2@x"}""",
        """{"event_id":3,"ts":2000,"id":"u1","event_type":"update","username":"stale","email":"s@x"}""",
        """{"event_id":4,"ts":1500,"id":"u2","event_type":"create","username":"bob","email":"b@x"}""")
        .mkString("", "\n", "\n"))
    val ordersLog = s"$base/orders/log"
    Files.createDirectories(Paths.get(ordersLog))
    Files.writeString(Paths.get(ordersLog, "seg-000.log"),
      Seq(
        """{"event_id":11,"ts":1000000,"order_id":"A","event_type":"create","total":10.0,"status":"pending"}""",
        """{"event_id":12,"ts":3000000,"order_id":"A","event_type":"update","total":20.0,"status":"shipped"}""",
        """{"event_id":13,"ts":2000000,"order_id":"B","event_type":"create","total":600.0,"status":"pending"}""")
        .mkString("", "\n", "\n"))

    val url = "jdbc:derby:memory:mtint;create=true"
    val cols = Seq("id", "username", "email",
      "_cdc_deleted", "_cdc_timestamp_micros", "_last_event_id")
    graft.sink.JdbcLwwExecutor.ensureTable(url,
      """CREATE TABLE cdc_users_mt (
        |  "id" VARCHAR(32) NOT NULL,
        |  "username" VARCHAR(64),
        |  "email" VARCHAR(64),
        |  "_cdc_deleted" BOOLEAN,
        |  "_cdc_timestamp_micros" BIGINT,
        |  "_last_event_id" BIGINT,
        |  PRIMARY KEY ("id"))""".stripMargin)
    AdmissionControl.register("mt-users",
      AdmissionControl.SinkHealth(breaker = Some(new graft.util.CircuitBreaker())))
    AdmissionControl.register("mt-orders", AdmissionControl.SinkHealth())
    try {
      val usersCfg = usersCfg0.copy(
        eventLog = Some((usersLog, 2L)), backpressureChannel = Some("mt-users"),
        jdbcTarget = Some(graft.sink.JdbcLwwExecutor.Target(
          url, "cdc_users_mt", cols, pk = Seq("id"))))
      val ordersCfg = ordersCfg0.copy(
        eventLog = Some((ordersLog, 2L)), backpressureChannel = Some("mt-orders"))
      MultiTableReplication.runAvailableNow(spark, Seq(usersCfg, ordersCfg))

      val users = spark.read.format("jdbc")
        .option("url", url).option("dbtable", "cdc_users_mt").load()
        .select("id", "username", "_cdc_timestamp_micros").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(users == Map("u1" -> (("alice2", 3000L)), "u2" -> (("bob", 1500L))),
        s"JDBC users state: $users")
      val orders = ReplicationJob.targetState(spark, ordersCfg)
        .select("order_id", "total").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(orders == Map("A" -> 20.0), s"orders state: $orders")
      val ordersDlq = spark.read.parquet(ordersCfg.dlqDir)
        .select("order_id", "error_type").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(ordersDlq == Map("B" -> "CONSTRAINT_VIOLATION"), s"orders DLQ: $ordersDlq")
    } finally {
      AdmissionControl.clear("mt-users")
      AdmissionControl.clear("mt-orders")
    }
  }

  test("per-table monitors ride the replication stream: the orders drift " +
    "alert fires on a shifted batch (plus a newborn-group critical), the " +
    "privacy panel stays within its bound, and the fold is replay-" +
    "idempotent") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.TableMonitors
    val base = tmpDir("mtrepl_mon")
    val dirs = Dirs(base)
    val reg = registryWithBoth(base)
    val (usersCfg, ordersCfg0) = configs(reg, dirs)
    val drift = new TableMonitors.ValueDrift(spark, s"$base/mon/drift",
      Seq("op" -> col("event_type")), col("total"),
      lo = 0L, hi = 512L, buckets = 16, driftX1e6Max = 200000L)
    val tclose = new TableMonitors.TCloseness(spark, s"$base/mon/tclose",
      Seq("status" -> col("status")), col("total"),
      lo = 0L, hi = 512L, buckets = 16, tX1e6Max = 2000000L)
    val ordersCfg = ordersCfg0.copy(monitors = Seq(drift, tclose))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source("users")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source("orders")))

    writeUsers(dirs.source("users"), "b0", Seq(
      (1L, 1000L, "u1", "create", "alice", "a@x")))
    // batch 0: totals clustered LOW (buckets 0-1 of [0, 512)/16)
    val b0 = Seq[(Long, Long, String, String, java.lang.Double, String)](
      (11L, 1000000L, "A", "create", 10.0, "pending"),
      (12L, 2000000L, "B", "create", 20.0, "pending"),
      (13L, 3000000L, "C", "create", 30.0, "pending"),
      (14L, 4000000L, "D", "create", 40.0, "pending"))
    // batch 1: totals shifted HIGH (buckets 12-14) + a NEWBORN op
    val b1 = Seq[(Long, Long, String, String, java.lang.Double, String)](
      (15L, 5000000L, "E", "create", 400.0, "shipped"),
      (16L, 6000000L, "F", "create", 420.0, "shipped"),
      (17L, 7000000L, "G", "create", 440.0, "shipped"),
      (18L, 8000000L, "H", "delete", 450.0, "cancelled"))
    writeOrders(dirs.source("orders"), "b0", b0)
    writeOrders(dirs.source("orders"), "b1", b1)

    MultiTableReplication.runAvailableNow(spark, Seq(usersCfg, ordersCfg))

    // drift panel: latest batch vs prior history, per op
    val panel = drift.panel()
      .select("op", "n_a", "n_b", "emd_x1e6").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(panel.keySet == Set("create", "delete"), s"panel: $panel")
    val (cA, cB, cEmd) = panel("create")
    assert(cA == 4L && cB == 3L, s"create sides: $panel")
    assert(cEmd.exists(_ > 200000L),
      s"the low→high shift must exceed the drift bound: $panel")
    assert(panel("delete")._3.isEmpty,
      "a newborn op has no baseline: NULL emd IS drift")
    val alerts = drift.alerts().select("op", "severity").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(alerts == Map("create" -> "warning", "delete" -> "critical"),
      s"alerts: $alerts")

    // privacy monitor rides the same stream; its bound is not violated
    assert(tclose.panel().count() > 0)
    assert(tclose.alerts().isEmpty,
      "the loose t bound must not fire on this data")

    // users replicated untouched by orders' monitors
    assert(ReplicationJob.targetState(spark, usersCfg).count() == 1L)

    // replay idempotence: re-folding batch 1's rows under the same
    // batch id REPLACES its registers — the panel must not move
    import spark.implicits._
    val before = drift.panel().collect().toSet
    drift.recordBatch(
      b1.toDF("event_id", "ts", "order_id", "event_type", "total", "status"),
      batchId = 1L)
    assert(drift.panel().collect().toSet == before,
      "an at-least-once replay must not double-count registers")
  }

  test("composite-key state store: LWW per (pk1, pk2)") {
    import spark.implicits._
    val dir = tmpDir("composite") + "/state"
    val store = new graft.sink.ParquetStateStore(
      spark, dir, Seq("ks", "cc"), "ts_us", "eid")
    store.upsert(Seq(("a", 1, 100L, 1L, "x"), ("a", 2, 100L, 2L, "y"))
      .toDF("ks", "cc", "ts_us", "eid", "v"))
    // same partition key, different clustering column → distinct rows;
    // newer (a,1) wins only its own composite key
    store.upsert(Seq(("a", 1, 200L, 3L, "x2"), ("a", 2, 50L, 4L, "stale"))
      .toDF("ks", "cc", "ts_us", "eid", "v"))
    val state = store.read().select("ks", "cc", "v").as[(String, Int, String)]
      .collect().toSet
    assert(state == Set(("a", 1, "x2"), ("a", 2, "y")), s"state: $state")
  }

  test("three same-shaped tables compile each class once: nothing a first table has not compiled") {
    val base = tmpDir("mtcodegen")
    val dirs = Dirs(base)
    val reg = new SchemaRegistry(s"$base/registry.tsv")
    val tables = (0 to 3).map(i => s"orders$i")
    tables.foreach(reg.register(_, ordersSchema, nowUs = 1L))
    val policy = ReplicationJob.Config("", "", "", "",
      validTypes = cdcTypes, deleteType = "delete", truncateType = "truncate",
      tsDivisorToMicros = 1000L, valueCol = Some("total"), maxValue = 500.0)
    val cfgs = tables.map { t =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirs.source(t)))
      writeOrders(dirs.source(t), "b0", Seq(
        (11L, 1000000L, "A", "create", 10.0, "pending"),
        (12L, 3000000L, "A", "update", 20.0, "shipped"),
        (13L, 2000000L, "B", "create", 600.0, "pending"),
        (15L, 4000000L, "D", "delete", 5.0, "cancelled")))
      writeOrders(dirs.source(t), "b1", Seq(
        (16L, 5000000L, "E", "create", 7.0, "pending"),
        (17L, 2500000L, "A", "update", 30.0, "stale"),
        (18L, 6000000L, "F", "create", null, "pending")))
      MultiTableReplication.configFor(reg, t, dirs, policy)
    }
    MultiTableReplication.runAvailableNow(spark, cfgs.take(1))
    val m = Harness.measure(spark)(MultiTableReplication.runAvailableNow(spark, cfgs.drop(1)))
    assert(m.compiles == 0L, s"${m.compiles} classes compiled again by three more tables")
    def state(c: ReplicationJob.Config) =
      ReplicationJob.targetState(spark, c).collect().toSet
    def dlq(c: ReplicationJob.Config) = spark.read.parquet(c.dlqDir).collect().toSet
    cfgs.drop(1).foreach { c =>
      assert(state(c) == state(cfgs.head) && dlq(c) == dlq(cfgs.head), c.table)
    }
    assert(state(cfgs.head).size == 3 && dlq(cfgs.head).size == 2)
  }
}
