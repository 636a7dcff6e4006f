package graft.catalog

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.io.FileIO
import graft.spec._
import graft.spec.IcebergType._
import graft.table.GraftTable

/** REST catalog client against the in-process update-action server
  * (`RestCatalogServer`): create/load/commit/conflict/drop, the
  * requirement-scoped concurrency model, and a full append+scan through
  * the remote catalog. */
class RestCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("rest-catalog-spec")
    .getOrCreate()

  private var server: RestCatalogServer = _
  private var port: Int = _
  private var warehouse: String = _

  override def beforeAll(): Unit = {
    warehouse = java.nio.file.Files.createTempDirectory("rest-wh-").toString
    server = new RestCatalogServer(warehouse)
    port = server.start()
  }

  override def afterAll(): Unit = {
    server.stop()
    spark.stop()
  }

  private def catalog = new RestCatalog(s"http://127.0.0.1:$port", "default",
    FileIO.fromSpark(spark))

  private val schema = IcebergSchema(0, Seq(
    NestedField(1, "id", LongT, required = false),
    NestedField(2, "v", DoubleT, required = false)))

  test("create/load/list/exists/drop round-trip") {
    val cat = catalog
    GraftTable.create("r1", cat, schema)
    assert(cat.tableExists("r1"))
    assert(cat.listTables() === Seq("r1"))
    val (md, v) = cat.loadTable("r1")
    assert(md.currentSchema.fields.map(_.name) === Seq("id", "v"))
    assert(md.location === s"$warehouse/r1") // service-assigned location
    assert(v >= 1) // client-side load counter (ETag analogue), not table version
    assert(cat.dropTable("r1"))
    assert(!cat.tableExists("r1"))
    intercept[IllegalArgumentException] { cat.loadTable("r1") }
  }

  test("commit CAS: overlapping ref change conflicts and CommitRetry recovers") {
    import spark.implicits._
    val cat = catalog
    var t = GraftTable.create("r2", cat, schema)
    t = t.append(Seq((1L, 0.5)).toDF("id", "v"))
    // two appends diffed from the SAME base both try to advance main —
    // the second violates assert-ref-snapshot-id and must 409
    val (base, v) = cat.loadTable("r2")
    val loaded = GraftTable.load("r2", cat)
    val t1 = loaded.append(Seq((2L, 1.5)).toDF("id", "v"))
    assert(t1.newScan().toDF(spark).count() === 2)
    // stale-base commit: reuse the consumed version with a snapshot-bearing diff
    intercept[CommitConflict] {
      cat.commitTable("r2", v, t1.metadata)
    }
    // CommitRetry-driven actions recover by re-loading
    val t2 = GraftTable.load("r2", cat).updateProperties(Map("owner" -> "rest"))
    assert(t2.metadata.properties("owner") === "rest")
  }

  test("non-overlapping commits from the same base BOTH land (requirement model)") {
    val cat = catalog
    GraftTable.create("r4", cat, schema)
    val (base, v) = cat.loadTable("r4")
    // commit A: property change, from version v
    cat.commitTable("r4", v, base.copy(properties = base.properties + ("a" -> "1")))
    // commit B: ALSO diffed from version v — a whole-document CAS would 409
    // here; the update-action protocol lands it because B's requirements
    // (uuid) still hold on the server's current metadata
    cat.commitTable("r4", v, base.copy(
      properties = base.properties + ("b" -> "2"),
      location = base.location + "-moved"))
    val (after, _) = cat.loadTable("r4")
    assert(after.properties("a") === "1") // A's write survived B
    assert(after.properties("b") === "2")
    assert(after.location === base.location + "-moved")
  }

  test("full append + schema evolution + branch through the REST catalog") {
    import spark.implicits._
    val cat = catalog
    // v3: the server-side next-row-id asserts below need row lineage
    var t = GraftTable.create("r3", cat, schema, properties = Map("format-version" -> "3"))
    t = t.append(Seq((1L, 0.5), (2L, 1.5), (3L, 2.5)).toDF("id", "v"))
    assert(t.newScan().toDF(spark).count() === 3)
    assert(t.newScan().toDF(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L))
    // schema evolution travels as add-schema/set-current-schema actions
    t = t.updateSchema().addColumn("tag", StringT).commit()
    assert(t.schema.fields.map(_.name) === Seq("id", "v", "tag"))
    // branch ref travels as set-snapshot-ref
    val snap = t.metadata.currentSnapshotId.get
    t = t.createBranch("audit", Some(snap))
    val (srv, _) = cat.loadTable("r3")
    assert(srv.refs("audit").snapshotId === snap)
    // server re-derived row lineage from the snapshot's row range
    assert(srv.nextRowId === 3L)
    assert(srv.currentSnapshot.get.firstRowId === Some(0L))
    // second append continues the row-id chain
    t = t.append(Seq((4L, 3.5, "x")).toDF("id", "v", "tag"))
    assert(cat.loadTable("r3")._1.nextRowId === 4L)
    assert(t.newScan().toDF(spark).count() === 4)
  }

  test("register endpoint adopts an existing metadata file") {
    import spark.implicits._
    // build a real table in a hadoop catalog, then register its metadata
    // file with the REST service (RegisterTableRequest)
    val wh = java.nio.file.Files.createTempDirectory("graft-rest-reg").toString
    val hc = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    var src = graft.table.GraftTable.create("ext", hc,
      graft.spec.IcebergSchema.fromSpark(Seq((1L, "a")).toDF("id", "s").schema))
    src = src.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))

    val cat = catalog
    val md = cat.registerTable("ext_adopted", s"${src.location}/metadata/v2.metadata.json")
    assert(md.currentSnapshotId === src.metadata.currentSnapshotId)
    val t = graft.table.GraftTable.load("ext_adopted", cat)
    assert(t.newScan().toDF(spark).count() === 2)
    // duplicate register refuses
    intercept[Exception] {
      cat.registerTable("ext_adopted", s"${src.location}/metadata/v2.metadata.json")
    }
  }

  test("namespace surface: CRUD, property update echo, drop-if-empty") {
    val cat = catalog
    cat.createNamespace("analytics", Map("owner" -> "ml", "tier" -> "gold"))
    assert(cat.namespaceExists("analytics"))
    assert(!cat.namespaceExists("nope"))
    assert(cat.listNamespaces().contains("analytics"))
    assert(cat.loadNamespace("analytics") ===
      Map("owner" -> "ml", "tier" -> "gold"))
    // duplicate create refuses
    intercept[Exception] { cat.createNamespace("analytics") }
    // spec echo: updated / removed / missing
    val (updated, removed, missing) = cat.updateNamespaceProperties("analytics",
      updates = Map("tier" -> "silver", "region" -> "eu"),
      removals = Seq("owner", "ghost"))
    assert(updated.toSet === Set("region", "tier"))
    assert(removed === Seq("owner"))
    assert(missing === Seq("ghost"))
    assert(cat.loadNamespace("analytics") ===
      Map("tier" -> "silver", "region" -> "eu"))
    assert(cat.dropNamespace("analytics"))
    assert(!cat.namespaceExists("analytics"))
    // the DEFAULT namespace holds tables from earlier tests → not empty
    intercept[IllegalStateException] { cat.dropNamespace("default") }
  }

  test("list pagination: pages chain via next-page-token and cover everything") {
    val cat = catalog
    (1 to 5).foreach(i => cat.createTable(s"pg$i", schema))
    // drive the wire with pageSize=2 and assert the token chain
    def rawList(token: Option[String]): (Seq[String], Option[String]) = {
      val uri = java.net.URI.create(
        s"http://127.0.0.1:$port/v1/namespaces/default/tables?pageSize=2" +
          token.map(t => s"&pageToken=$t").getOrElse(""))
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(uri).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200)
      val n = Json.parse(resp.body())
      import Json.NodeOps
      (n("identifiers").elems.map(_("name").asText()),
        n.opt("next-page-token").map(_.asText()))
    }
    var token: Option[String] = None
    var pages = Seq.empty[Seq[String]]
    var more = true
    while (more) {
      val (page, next) = rawList(token)
      pages :+= page
      token = next
      more = next.isDefined
    }
    assert(pages.forall(_.size <= 2))
    assert(pages.size >= 3, s"expected multiple pages, got $pages")
    val all = pages.flatten
    assert(all.distinct === all, "pages must not overlap")
    assert(all.filter(_.startsWith("pg")).sorted ===
      (1 to 5).map(i => s"pg$i"))
    // the paginated client loop sees the same complete set
    assert(cat.listTables().filter(_.startsWith("pg")).sorted ===
      (1 to 5).map(i => s"pg$i"))
    (1 to 5).foreach(i => cat.dropTable(s"pg$i"))
  }

  test("rename moves the catalog pointer; data and history ride along") {
    import spark.implicits._
    val cat = catalog
    var t = GraftTable.create("rn_src", cat, schema)
    t = t.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    cat.renameTable("rn_src", "rn_dst")
    assert(!cat.tableExists("rn_src"))
    val moved = GraftTable.load("rn_dst", cat)
    assert(moved.metadata.snapshots.size === 1)
    assert(moved.newScan().toDF(spark).count() === 2)
    // source gone, destination collision refused
    intercept[IllegalArgumentException] { cat.renameTable("rn_src", "x") }
    GraftTable.create("rn_other", cat, schema)
    intercept[IllegalArgumentException] { cat.renameTable("rn_other", "rn_dst") }
  }

  test("OAuth2 client-credentials, bearer enforcement, token refresh, config merge") {
    import spark.implicits._
    val wh2 = java.nio.file.Files.createTempDirectory("rest-auth-wh-").toString
    val srv = new RestCatalogServer(wh2)
    srv.requireAuth(Some("acct"), "s3cr3t")
    srv.configDefaults = Map("write.metadata.compression-codec" -> "gzip", "a" -> "d")
    srv.configOverrides = Map("a" -> "o")
    val p = srv.start()
    try {
      val base = s"http://127.0.0.1:$p"
      val io = FileIO.fromSpark(spark)
      // unauthenticated requests bounce off the bearer gate
      val anon = new RestCatalog(base, "default", io)
      intercept[Exception] { GraftTable.create("a0", anon, schema) }
      // a wrong secret is refused at the token endpoint
      val bad = new RestCatalog(base, "default", io,
        Map("credential" -> "acct:wrong"))
      intercept[Exception] { bad.listTables() }
      // the client-credentials exchange carries a full create/append/scan
      val cat = new RestCatalog(base, "default", io,
        Map("credential" -> "acct:s3cr3t"))
      var t = GraftTable.create("a1", cat, schema)
      t = t.append(Seq((1L, 0.5), (2L, 1.5)).toDF("id", "v"))
      assert(t.newScan().toDF(spark).count() === 2)
      // revoked token (expiry): the credential client mints afresh and replays
      srv.invalidateTokens()
      assert(cat.listTables() === Seq("a1"))
      // static-token mode: provisioned out of band, no exchange involved...
      val tok = srv.issueToken()
      val statik = new RestCatalog(base, "default", io, Map("token" -> tok))
      assert(statik.tableExists("a1"))
      // ...so a revoked static token cannot self-heal
      srv.invalidateTokens()
      intercept[Exception] { statik.listTables() }
      // config endpoint: server defaults ++ client props ++ server overrides
      val merged = new RestCatalog(base, "default", io,
        Map("credential" -> "acct:s3cr3t", "a" -> "client", "b" -> "client"))
      assert(merged.effectiveProps("a") === "o")
      assert(merged.effectiveProps("b") === "client")
      assert(merged.effectiveProps("write.metadata.compression-codec") === "gzip")
    } finally srv.stop()
  }
}
