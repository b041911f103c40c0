package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.incremental.Incremental
import org.apache.spark.sql.functions.col

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("filesystem: csv reader round-trips with provenance") {
    val dir = Files.createTempDirectory("graft-fs").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.option("header", "true").csv(s"$dir/csv")
    val back = Filesystem.readCsv(spark, s"$dir/csv")
    assert(back.count() == 2)
    assert(back.columns.contains("_file_name"))
    assert(back.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // the jsonl and parquet readers carry the same provenance column
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.json(s"$dir/jsonl")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/pq")
    Seq(Filesystem.readJsonl(spark, s"$dir/jsonl"),
        Filesystem.readParquet(spark, s"$dir/pq")).foreach { r =>
      assert(r.columns.contains("_file_name"))
      assert(r.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("filesystem: file listing returns FileItem metadata") {
    val dir = Files.createTempDirectory("graft-fs2").toString
    Seq(1, 2, 3).toDF("x").write.json(s"$dir/j")
    val files = Filesystem.listFiles(spark, s"$dir/j/*.json")
    assert(files.count() >= 1)
    assert(files.columns.toSet ==
      Set("file_url", "file_name", "modification_date", "size_in_bytes"))
  }

  test("jdbc: incremental window compiles to a pushdown WHERE clause") {
    val cfg = Incremental.Config(cursorColumn = "updated_at",
      initialValue = Some("2024-01-01"), endValue = Some("2024-06-01"))
    val w = Jdbc.incrementalWhere(cfg, Incremental.State.empty)
    assert(w.contains("updated_at >= '2024-01-01' AND updated_at < '2024-06-01'"))
    val w2 = Jdbc.incrementalWhere(cfg.copy(endValue = None, closedStart = false),
      Incremental.State(Some("2024-03-01"), Nil))
    assert(w2.contains("updated_at > '2024-03-01'"))
    val w3 = Jdbc.incrementalWhere(
      cfg.copy(endValue = None, onMissing = Incremental.Include),
      Incremental.State.empty)
    assert(w3.contains("(updated_at >= '2024-01-01') OR updated_at IS NULL"))
  }

  test("jdbc: cursor values are escaped; numeric cursors unquoted") {
    val w = Jdbc.incrementalWhere(
      Incremental.Config(cursorColumn = "name",
        initialValue = Some("O'Brien")), Incremental.State.empty)
    assert(w.contains("name >= 'O''Brien'"))
    val n = Jdbc.incrementalWhere(
      Incremental.Config(cursorColumn = "id", initialValue = Some("42")),
      Incremental.State.empty)
    assert(n.contains("id >= 42"))
    val q = Jdbc.incrementalWhere(
      Incremental.Config(cursorColumn = "weird col",
        initialValue = Some("x")), Incremental.State.empty)
    assert(q.contains("\"weird col\" >= 'x'"))
  }

  test("rest: offset paginator walks pages until a short page") {
    val transport: Rest.Transport = url => {
      val offset = url.split("offset=").lift(1).map(_.takeWhile(_.isDigit).toInt).getOrElse(0)
      val items = (offset until math.min(offset + 2, 5))
        .map(i => s"""{"id":$i,"v":"r$i"}""").mkString(",")
      Rest.Response(s"""{"data":[$items]}""")
    }
    val count = (body: String) => "\"id\":".r.findAllIn(body).length
    val df = Rest.read(spark, "http://api/items?limit=2&offset=0", transport,
      Rest.Offset(limit = 2, itemCount = count), itemsPath = Some("data"))
    assert(df.count() == 5)
    assert(df.select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
  }

  test("rest: header_link paginator follows rel=next") {
    val transport: Rest.Transport = {
      case u if u.endsWith("p1") =>
        Rest.Response("""[{"id":1}]""", Map("Link" -> """<http://api/p2>; rel="next""""))
      case _ => Rest.Response("""[{"id":2}]""")
    }
    val df = Rest.read(spark, "http://api/p1", transport, Rest.HeaderLink)
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("filesystem incremental: second run loads only new files") {
    val dir = Files.createTempDirectory("graft-fsinc").toString
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/f_a")
    val cfg = graft.incremental.Incremental.Config(
      cursorColumn = "file_url",
      onMissing = graft.incremental.Incremental.Exclude)

    // run 1: everything is new
    val files1 = Filesystem.listFiles(spark, s"$dir/*/")
      .filter(col("file_name").endsWith(".parquet"))
    val run1 = graft.incremental.Incremental(files1, cfg,
      graft.incremental.Incremental.State.empty)
    assert(run1.count() === 1)
    val st1 = graft.incremental.Incremental.advance(run1, cfg,
      graft.incremental.Incremental.State.empty)

    // a later file arrives (lexicographically greater path = the cursor)
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/f_b")
    val files2 = Filesystem.listFiles(spark, s"$dir/*/")
      .filter(col("file_name").endsWith(".parquet"))
    val run2 = graft.incremental.Incremental(files2, cfg, st1)
    val newFiles = run2.select("file_url").as[String].collect()
    // only the new file (boundary dedup drops the already-seen one)
    assert(newFiles.length === 1 && newFiles.head.contains("f_b"))
    // and reading just those files yields just the new rows
    val rows = spark.read.parquet(newFiles.toIndexedSeq: _*)
    assert(rows.select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("jdbc source: reflected incremental pushdown reaches the database subquery") {
    import graft.write.JdbcSink
    val cfg = graft.sources.JdbcTableConfig(
      url = "jdbc:derby:memory:graftsrcinc;create=true", table = "t_inc")
    // Spark's JDBC writer creates QUOTED lowercase columns — an unquoted
    // cursor identifier would fold to uppercase in Derby and miss them;
    // the reader must resolve the reflected name
    JdbcSink.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), cfg)
    val read = Jdbc.read(spark, cfg.copy(
      partitionColumn = Some("id"), numPartitions = 2,
      lowerBound = Some("0"), upperBound = Some("4"),
      incremental = Some(Incremental.Config(cursorColumn = "id",
        initialValue = Some("2")))))
    // the window runs IN the database: the relation's table is the
    // WHERE subquery over the quoted reflected identifier
    val rel = read.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.toString
    }.mkString
    assert(rel.contains("WHERE") && rel.contains("\"id\" >= 2"), rel)
    assert(read.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("jdbc source: whole-schema reflection lists and reads every table") {
    import graft.write.JdbcSink
    val url = "jdbc:derby:memory:graftschema;create=true"
    val mk = (t: String) => graft.sources.JdbcTableConfig(url, t)
    JdbcSink.append(Seq((1L, "a")).toDF("id", "v"), mk("t_alpha"))
    JdbcSink.append(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), mk("t_beta"))
    val tables = Jdbc.listTables(url)
    assert(tables === Seq("T_ALPHA", "T_BETA")) // derby folds unquoted up
    val all = Jdbc.readAllTables(spark, url)
    assert(all.keySet === Set("T_ALPHA", "T_BETA"))
    assert(all("T_ALPHA").count() === 1 && all("T_BETA").count() === 2)
    assert(all("T_BETA").select("id").as[Long].collect().sorted.toSeq
      === Seq(2L, 3L))
  }

  test("filesystem incremental: mtime cursor with path dedup across listings") {
    val dir = Files.createTempDirectory("graft-fsinc2").toString
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/f_a")
    val glob = s"$dir/*/*.parquet"
    val (r1, st1) = Filesystem.listIncremental(spark, glob,
      Incremental.State.empty)
    assert(r1.count() === 1)
    // re-listing with nothing new: boundary dedup by path drops the file
    val (r1b, _) = Filesystem.listIncremental(spark, glob, st1)
    assert(r1b.count() === 0)
    // a new file arrives → only it loads
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/f_b")
    val (r2, st2) = Filesystem.listIncremental(spark, glob, st1)
    val newFiles = r2.select("file_url").as[String].collect()
    assert(newFiles.length === 1 && newFiles.head.contains("f_b"))
    // a REWRITTEN file (same path, newer mtime) re-delivers — the
    // reference's new-and-changed semantics
    val partA = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f_a"))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.setLastModifiedTime(partA,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 2000))
    val (r3, _) = Filesystem.listIncremental(spark, glob, st2)
    val redelivered = r3.select("file_url").as[String].collect()
    assert(redelivered.length === 1 && redelivered.head.contains("f_a"))
  }

  test("incremental listing pushes the mtime window into the binaryFile scan") {
    val dir = Files.createTempDirectory("graft-fspush").toString
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/f_a")
    val st = Incremental.State(Some("2020-01-01 00:00:00"), Nil)
    val (df, _) = Filesystem.listIncremental(spark, s"$dir/*/*.parquet", st)
    // the window must reach the file scan as a pushed filter — at scale
    // the listing prunes files by metadata, it does not read-then-drop
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(modificationTime"),
      s"mtime window not pushed: $pushed")
    assert(df.count() === 1)
  }

  test("pipeline-native incremental file loads: exactly-once, empty runs skip") {
    val dir = Files.createTempDirectory("graft-fsrun").toString
    val p = new graft.pipeline.Pipeline("fsr",
      Files.createTempDirectory("graft-fsr-pipe").toString, spark)
    val glob = s"$dir/*/*.parquet"
    def run(loadId: String) =
      Filesystem.runIncremental(p, "ev", glob, loadId)(
        (s, fs) => s.read.parquet(fs: _*))
    def ids = p.store.read("ev").select("id").as[Long].collect().sorted.toSeq

    // empty prefix: no load package at all
    assert(run("1").isEmpty)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/batch_a")
    assert(run("2").nonEmpty)
    assert(ids === Seq(1L, 2L))
    // second batch arrives: only its rows append
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/batch_b")
    run("3")
    assert(ids === Seq(1L, 2L, 3L))
    // nothing new: no-op (no extra load id recorded)
    assert(run("4").isEmpty)
    assert(ids === Seq(1L, 2L, 3L))
    // the advanced cursor was synced to the destination state table
    val st = p.store.read("_dlt_pipeline_state")
      .orderBy(col("version").desc).select("state").limit(1)
      .as[String].collect().head
    assert(st.contains("ev%2F__files__"))
  }

  test("rest: incremental window rides the request as query params") {
    val cfg = Incremental.Config(cursorColumn = "updated_at",
      initialValue = Some("2024-01-01"), endValue = Some("2024-06-01"))
    // no state: the window opens at the initial value
    val p0 = Rest.incrementalParams(cfg, Incremental.State.empty,
      "updated_since", Some("updated_before"))
    assert(p0 === Map("updated_since" -> "2024-01-01",
      "updated_before" -> "2024-06-01"))
    // stored cursor with lag: the start value reopens lag seconds back
    val lagged = cfg.copy(endValue = None, lag = Some(3600.0))
    val p1 = Rest.incrementalParams(lagged,
      Incremental.State(Some("2024-03-01 10:00:00"), Nil), "updated_since")
    assert(p1 === Map("updated_since" -> "2024-03-01 09:00:00"))
    assert(Rest.withParams("http://api/items?limit=5", p1)
      .contains("updated_since=2024-03-01 09:00:00"))
  }

  test("rest: header_cursor paginator threads the token as a query param") {
    val transport: Rest.Transport = {
      case u if !u.contains("cursor=") =>
        Rest.Response("""[{"id":1}]""", Map("NextPageToken" -> "t2"))
      case u if u.contains("cursor=t2") =>
        Rest.Response("""[{"id":2}]""", Map("NextPageToken" -> "t3"))
      case _ => Rest.Response("""[{"id":3}]""") // no header → stop
    }
    val df = Rest.read(spark, "http://api/items", transport,
      Rest.HeaderCursor(cursorKey = "NextPageToken"))
    assert(df.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("rest: auto paginator detects link header, json next, single page") {
    // Link header wins
    val viaLink: Rest.Transport = {
      case u if u.endsWith("p1") =>
        Rest.Response("""[{"id":1}]""", Map("Link" -> """<http://api/p2>; rel="next""""))
      case _ => Rest.Response("""[{"id":2}]""")
    }
    assert(Rest.read(spark, "http://api/p1", viaLink, Rest.Auto)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // body "next" key holding a URL (relative links resolve on the host)
    val viaBody: Rest.Transport = {
      case u if u.endsWith("a") =>
        Rest.Response("""{"data":[{"id":1}],"next":"/b"}""")
      case _ => Rest.Response("""{"data":[{"id":2}]}""")
    }
    assert(Rest.read(spark, "http://api/a", viaBody, Rest.Auto,
      itemsPath = Some("data")).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
    // neither → single page
    var calls = 0
    val single: Rest.Transport = _ => { calls += 1; Rest.Response("""[{"id":9}]""") }
    assert(Rest.read(spark, "http://api/x", single, Rest.Auto).count() === 1)
    assert(calls === 1)
  }

  test("rest: response_actions — 404-ignore ends pagination without the page") {
    // page 1 ok, page 2 is a 404: with the ignore action the fetch
    // yields page 1 only (404-means-empty); without it, raise-for-status
    val transport: Rest.Transport = {
      case u if u.contains("offset=2") => Rest.Response("not here", status = 404)
      case _ => Rest.Response("""{"data":[{"id":1},{"id":2}]}""")
    }
    def count(b: String) = """\{"id"""".r.findAllIn(b).length
    val pag = Rest.Offset(limit = 2, itemCount = count)
    val pages = Rest.fetchPages("http://api/i?limit=2&offset=0", transport, pag,
      responseActions = Seq(Rest.ResponseAction(statusCode = Some(404))))
    assert(pages === Seq("""{"data":[{"id":1},{"id":2}]}"""))
    val e = intercept[Rest.HttpStatusException] {
      Rest.fetchPages("http://api/i?limit=2&offset=0", transport, pag)
    }
    assert(e.status === 404)
  }

  test("rest: response_actions — 429 retries honoring Retry-After, 5xx raises") {
    // two 429s (Retry-After: 7) then success; sleep is injected/recorded
    var attempts = 0
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val flaky: Rest.Transport = _ => {
      attempts += 1
      if (attempts <= 2) Rest.Response("slow down", Map("Retry-After" -> "7"), status = 429)
      else Rest.Response("""[{"id":1}]""")
    }
    val pages = Rest.fetchPages("http://api/x", flaky, Rest.SinglePage,
      retrySleep = slept.append(_))
    assert(pages === Seq("""[{"id":1}]""") && attempts === 3)
    assert(slept.toSeq === Seq(7000L, 7000L))
    // a persistent 500 exhausts maxRetries then raises; backoff is
    // exponential when no Retry-After header is present
    var tries = 0
    val broken: Rest.Transport = _ => { tries += 1; Rest.Response("boom", status = 500) }
    val slept2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val e = intercept[Rest.HttpStatusException] {
      Rest.fetchPages("http://api/x", broken, Rest.SinglePage,
        maxRetries = 2, retrySleep = slept2.append(_))
    }
    assert(e.status === 500 && tries === 3)
    assert(slept2.toSeq === Seq(100L, 200L))
  }

  test("rest: response_actions — content match, AND semantics, transform, order") {
    // content-substring alone matches any status; status+content is AND
    val t404: Rest.Transport = _ => Rest.Response("""{"error":"Not found"}""", status = 404)
    assert(Rest.fetchPages("http://api/x", t404, Rest.SinglePage,
      responseActions = Seq(Rest.ResponseAction(contentSubstr = Some("Not found")))) === Nil)
    // AND: status matches but content doesn't → no match → raise
    intercept[Rest.HttpStatusException] {
      Rest.fetchPages("http://api/x", t404, Rest.SinglePage,
        responseActions = Seq(Rest.ResponseAction(
          statusCode = Some(404), contentSubstr = Some("gone"))))
    }
    // transform: a callable action rewrites the body and flow continues
    val ok: Rest.Transport = _ => Rest.Response("""[{"id":1,"email":"x@y.z"}]""")
    val redacted = Rest.fetchPages("http://api/x", ok, Rest.SinglePage,
      responseActions = Seq(Rest.ResponseAction(statusCode = Some(200),
        outcome = Rest.RespTransform(r =>
          r.copy(body = r.body.replaceAll(""","email":"[^"]*"""", ""))))))
    assert(redacted === Seq("""[{"id":1}]"""))
    // declaration order: first matching action wins
    val first = Rest.fetchPages("http://api/x", ok, Rest.SinglePage,
      responseActions = Seq(
        Rest.ResponseAction(statusCode = Some(200),
          outcome = Rest.RespTransform(r => r.copy(body = "first"))),
        Rest.ResponseAction(statusCode = Some(200),
          outcome = Rest.RespTransform(r => r.copy(body = "second")))))
    assert(first === Seq("first"))
  }

  test("rest: endpoint-level response_actions flow through the graph resolver") {
    // child endpoint 404s for one parent id; the ignore action makes
    // that child empty instead of failing the whole graph
    val transport: Rest.Transport = {
      case u if u.endsWith("/parents") =>
        Rest.Response("""[{"id":1},{"id":2}]""")
      case u if u.endsWith("/parents/2/items") =>
        Rest.Response("gone", status = 404)
      case u => Rest.Response(s"""[{"pid":${u.split("/")(4)}}]""")
    }
    val out = Rest.readGraph(spark, Seq(
      Rest.Endpoint("parents", "http://api/parents"),
      Rest.Endpoint("items", "http://api/parents/{id}/items",
        parent = Some("parents"), parentKey = Some("id"),
        responseActions = Seq(Rest.ResponseAction(statusCode = Some(404))))),
      transport)
    assert(out("items").select("pid").as[Long].collect().toSeq === Seq(1L))
  }

  test("rest: auth strategies set headers and query params") {
    var seen: (String, Map[String, String]) = ("", Map.empty)
    val ht: Rest.HeaderTransport = (url, headers) => {
      seen = (url, headers); Rest.Response("""[{"id":1}]""")
    }
    Rest.read(spark, "http://api/x", Rest.authed(ht, Rest.Bearer("tok")), Rest.SinglePage)
    assert(seen._2 === Map("Authorization" -> "Bearer tok"))

    Rest.read(spark, "http://api/x", Rest.authed(ht, Rest.HttpBasic("u", "p")), Rest.SinglePage)
    assert(seen._2("Authorization").startsWith("Basic "))

    Rest.read(spark, "http://api/x",
      Rest.authed(ht, Rest.ApiKey("X-Key", "s3cret")), Rest.SinglePage)
    assert(seen._2 === Map("X-Key" -> "s3cret"))

    Rest.read(spark, "http://api/x?a=1",
      Rest.authed(ht, Rest.ApiKey("key", "v", inQuery = true)), Rest.SinglePage)
    assert(seen._1.contains("key=v") && seen._1.contains("a=1"))

    var exchanges = 0
    Rest.read(spark, "http://api/x",
      Rest.authed(ht, Rest.OAuth2(() => { exchanges += 1; "t2" })), Rest.SinglePage)
    assert(seen._2 === Map("Authorization" -> "Bearer t2") && exchanges === 1)
  }

  test("rest: oauth2 re-obtains an expired token mid-pagination") {
    var clock = 0L
    var exchanges = 0
    val auth = Rest.OAuth2(
      () => { exchanges += 1; Rest.OAuth2.Token(s"t$exchanges", Some(10L)) },
      now = () => clock)
    var bearers = List.empty[String]
    val ht: Rest.HeaderTransport = (url, headers) => {
      bearers :+= headers("Authorization")
      clock += 6000L // 6 s per page: the 10 s token dies before page 3
      val page = url.split("page=").lift(1)
        .map(_.takeWhile(_.isDigit).toInt).getOrElse(1)
      Rest.Response(if (page > 3) "[]" else s"""[{"id":$page}]""")
    }
    val count = (body: String) => "\"id\":".r.findAllIn(body).length
    val df = Rest.read(spark, "http://api/x", Rest.authed(ht, auth),
      Rest.PageNumber(itemCount = count))
    assert(df.count() === 3)
    // pages 1+2 ride token 1; its expiry forces ONE re-exchange, and
    // pages 3+4 ride token 2 — never a 401, never per-page exchanges
    assert(exchanges === 2)
    assert(bearers === List("Bearer t1", "Bearer t1", "Bearer t2", "Bearer t2"))
  }

  test("rest: oauth2 refreshes EARLY, inside the safety margin before the boundary") {
    // short token: margin = ttl/10 -> a use at 9.5 s of a 10 s token is
    // nominally alive but inside the margin, so it must re-exchange
    var clock = 0L
    var exchanges = 0
    val auth = Rest.OAuth2(
      () => { exchanges += 1; Rest.OAuth2.Token(s"t$exchanges", Some(10L)) },
      now = () => clock)
    assert(auth.headers("Authorization") === "Bearer t1")
    clock = 9500L
    assert(auth.headers("Authorization") === "Bearer t2")
    assert(exchanges === 2)
    // long token: the margin clamps at 30 s before the boundary
    var clock2 = 0L
    var ex2 = 0
    val auth2 = Rest.OAuth2(
      () => { ex2 += 1; Rest.OAuth2.Token(s"u$ex2", Some(3600L)) },
      now = () => clock2)
    auth2.headers
    clock2 = 3600000L - 30001L // one ms before the early-refresh point
    auth2.headers
    assert(ex2 === 1, "must not refresh before the margin")
    clock2 = 3600000L - 29999L // inside the 30 s margin
    auth2.headers
    assert(ex2 === 2, "must refresh inside the margin, before the boundary")
  }

  test("rest: oauth2 token-endpoint responses parse expires_in variants") {
    val t1 = Rest.OAuth2.parseTokenResponse(
      """{"access_token":"abc","token_type":"bearer","expires_in":7200}""")
    assert(t1 === Rest.OAuth2.Token("abc", Some(7200L)))
    // some providers return expires_in as a string
    val t2 = Rest.OAuth2.parseTokenResponse(
      """{"access_token":"xyz","expires_in":"900"}""")
    assert(t2 === Rest.OAuth2.Token("xyz", Some(900L)))
    // absent expires_in -> default expiration governs
    val t3 = Rest.OAuth2.parseTokenResponse("""{"access_token":"q"}""")
    assert(t3 === Rest.OAuth2.Token("q", None))
    intercept[IllegalArgumentException] {
      Rest.OAuth2.parseTokenResponse("""{"error":"invalid_client"}""")
    }
    // a NESTED object's expires_in must not shadow the top-level one
    // (or its absence), and escaped tokens arrive unescaped
    val t4 = Rest.OAuth2.parseTokenResponse(
      """{"details":{"expires_in":5},"access_token":"t","expires_in":3600}""")
    assert(t4 === Rest.OAuth2.Token("t", Some(3600L)))
    val t5 = Rest.OAuth2.parseTokenResponse(
      """{"scope":{"expires_in":7},"access_token":"a\"b\\cA"}""")
    assert(t5 === Rest.OAuth2.Token("a\"b\\cA", None))
  }

  test("rest: endpoint graph resolves a three-level tree in order") {
    val transport: Rest.Transport = {
      case "http://api/customers" =>
        Rest.Response("""[{"cust":1},{"cust":2}]""")
      case u if u.matches("http://api/customers/\\d+/orders") =>
        val c = u.split("/")(4)
        Rest.Response(s"""[{"ord":${c}0},{"ord":${c}1}]""")
      case u if u.matches("http://api/orders/\\d+/items") =>
        val o = u.split("/")(4)
        Rest.Response(s"""[{"item":"i$o"}]""")
      case u => fail(s"unexpected url $u")
    }
    val out = Rest.readGraph(spark, Seq(
      Rest.Endpoint("items", "http://api/orders/{ord}/items",
        parent = Some("orders"), parentKey = Some("ord")),
      Rest.Endpoint("customers", "http://api/customers"),
      Rest.Endpoint("orders", "http://api/customers/{cust}/orders",
        parent = Some("customers"), parentKey = Some("cust"))), transport)
    assert(out("customers").count() === 2)
    assert(out("orders").select("ord").as[Long].collect().sorted.toSeq
      === Seq(10L, 11L, 20L, 21L))
    assert(out("items").select("item").as[String].collect().sorted.toSeq
      === Seq("i10", "i11", "i20", "i21"))
    // a cycle is rejected, not an infinite loop
    intercept[IllegalArgumentException] {
      Rest.readGraph(spark, Seq(
        Rest.Endpoint("a", "http://api/a", parent = Some("b"), parentKey = Some("x")),
        Rest.Endpoint("b", "http://api/b", parent = Some("a"), parentKey = Some("x"))),
        transport)
    }
  }

  test("rest: child endpoint resolves path params per parent row") {
    val parent = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val transport: Rest.Transport = url => {
      val id = url.split("/").last
      Rest.Response(s"""[{"parent":$id,"d":"c$id"}]""")
    }
    val df = Rest.readChild(spark, parent, "id", "http://api/items/{id}",
      transport, Rest.SinglePage)
    assert(df.count() == 2)
    assert(df.select("parent").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("rest: descending source stops after the first out-of-window page") {
    // 10 pages of descending ids (99,98 | 97,96 | ...); resume value 95
    // → page 1 (99,98) and page 2 (97,96) are in-window, page 3 (95,94)
    // carries 94 < 95 under a closed start: can_close fires there
    var calls = 0
    val transport: Rest.Transport = url => {
      calls += 1
      val page = url.split("page=").lift(1).map(_.takeWhile(_.isDigit).toInt).getOrElse(1)
      val hi = 99 - (page - 1) * 2
      Rest.Response(s"""{"data":[{"id":$hi},{"id":${hi - 1}}]}""")
    }
    val count = (body: String) => "\"id\":".r.findAllIn(body).length
    val stop = Rest.outOfWindowStop(Rest.RowOrder.Desc, "id",
      startValue = Some("95"), itemsPath = Some("data"))
    val pages = Rest.fetchPages("http://api/items?page=1", transport,
      Rest.PageNumber(itemCount = count), stopWhen = stop)
    assert(calls == 3, s"descending fetch should stop at page 3, made $calls calls")
    assert(pages.size == 3) // the closing page still lands
  }

  test("rest: ascending backfill stops once the end bound is reached") {
    var calls = 0
    val transport: Rest.Transport = url => {
      calls += 1
      val page = url.split("page=").lift(1).map(_.takeWhile(_.isDigit).toInt).getOrElse(1)
      val lo = (page - 1) * 2
      Rest.Response(s"""{"data":[{"ts":"2024-0${lo / 2 + 1}-01"},{"ts":"2024-0${lo / 2 + 1}-15"}]}""")
    }
    val count = (body: String) => "\"ts\":".r.findAllIn(body).length
    // end bound 2024-03-01 (open): page 3 carries 2024-03-01 → stop there
    val stop = Rest.outOfWindowStop(Rest.RowOrder.Asc, "ts",
      endValue = Some("2024-03-01"), itemsPath = Some("data"))
    Rest.fetchPages("http://api/items?page=1", transport,
      Rest.PageNumber(itemCount = count), maxPages = 6, stopWhen = stop)
    assert(calls == 3, s"ascending backfill should stop at page 3, made $calls calls")
  }

  test("jdbc sink: append, merge and replace round-trip on in-memory derby") {
    import graft.write.JdbcSink
    val cfg = graft.sources.JdbcTableConfig(
      url = "jdbc:derby:memory:graftsink;create=true", table = "t_users")
    def readBack = Jdbc.read(spark, cfg)
      .select("id", "v").as[(Long, String)].collect().toMap

    JdbcSink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), cfg)
    assert(readBack == Map(1L -> "a", 2L -> "b"))

    // merge: key 2 updates, key 3 inserts, key 1 untouched
    JdbcSink.mergeDeleteInsert(
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), cfg, keys = Seq("id"))
    assert(readBack == Map(1L -> "a", 2L -> "B", 3L -> "c"))

    JdbcSink.replace(Seq((9L, "z")).toDF("id", "v"), cfg)
    assert(readBack == Map(9L -> "z"))

    // first-load merge creates the destination from the staging shape
    val cfg2 = cfg.copy(table = "t_fresh")
    JdbcSink.mergeDeleteInsert(Seq((5L, "e")).toDF("id", "v"), cfg2, Seq("id"))
    assert(Jdbc.read(spark, cfg2).count() == 1)
  }

  test("jdbc sink: upsert and insert-only strategies on in-memory derby") {
    import graft.write.JdbcSink
    val base = graft.sources.JdbcTableConfig(
      url = "jdbc:derby:memory:graftsink2;create=true", table = "t_up")
    def readBack(c: graft.sources.JdbcTableConfig) = Jdbc.read(spark, c)
      .select("id", "v").as[(Long, String)].collect().toMap

    // upsert (MERGE path on derby): matched updates, unmatched inserts
    JdbcSink.mergeUpsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), base, Seq("id"))
    JdbcSink.mergeUpsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), base, Seq("id"))
    assert(readBack(base) == Map(1L -> "a", 2L -> "B", 3L -> "c"))

    // insert-only: existing key 2 never changes, fresh key 4 inserts
    val cfgIo = base.copy(table = "t_io")
    JdbcSink.mergeInsertOnly(Seq((2L, "x")).toDF("id", "v"), cfgIo, Seq("id"))
    JdbcSink.mergeInsertOnly(Seq((2L, "y"), (4L, "d")).toDF("id", "v"), cfgIo, Seq("id"))
    assert(readBack(cfgIo) == Map(2L -> "x", 4L -> "d"))

    // all-key-columns upsert degenerates to insert-of-unmatched
    val cfgK = base.copy(table = "t_keysonly")
    JdbcSink.mergeUpsert(Seq(Tuple1(1L)).toDF("id"), cfgK, Seq("id"))
    JdbcSink.mergeUpsert(Seq(Tuple1(1L), Tuple1(2L)).toDF("id"), cfgK, Seq("id"))
    assert(Jdbc.read(spark, cfgK).count() == 2)
  }

  test("jdbc sink: scd2 retires and versions in-database on derby") {
    import graft.write.{JdbcSink, Scd2Config}
    val cfg = graft.sources.JdbcTableConfig(
      url = "jdbc:derby:memory:graftscd;create=true", table = "dim_users")
    def cfgFor(ts: String) = Scd2Config(
      trackedColumns = Seq("id", "v"), mergeKey = Seq("id"), boundaryTs = ts)

    JdbcSink.scd2(Seq((1L, "a1"), (2L, "b1")).toDF("id", "v"), cfg,
      cfgFor("2024-01-01 00:00:00"))
    // entity 1 revises; entity 2 absent from the batch must NOT retire
    JdbcSink.scd2(Seq((1L, "a2")).toDF("id", "v"), cfg,
      cfgFor("2024-01-02 00:00:00"))
    val out = Jdbc.read(spark, cfg)
      .select("id", "v", "_dlt_valid_to")
      .as[(Long, String, Option[java.sql.Timestamp])].collect().toSeq
    assert(out.size === 3) // a1 retired, a2 + b1 active
    assert(out.filter(_._3.isEmpty).map(r => (r._1, r._2)).sorted
      === Seq((1L, "a2"), (2L, "b1")))
    assert(out.filter(_._3.nonEmpty).map(_._2) === Seq("a1"))
    // an identical re-delivery is a no-op (hash survives as active)
    JdbcSink.scd2(Seq((1L, "a2")).toDF("id", "v"), cfg,
      cfgFor("2024-01-03 00:00:00"))
    assert(Jdbc.read(spark, cfg).count() === 3)

    // COMPOSITE merge key scopes on the full TUPLE: a batch holding
    // (1,_) and (_,20) entities must not retire untouched (1,20) —
    // per-column EXISTS would match it through two different rows
    val cfg2 = cfg.copy(table = "dim_comp")
    def compCfg(ts: String) = Scd2Config(
      trackedColumns = Seq("tenant", "acct", "v"),
      mergeKey = Seq("tenant", "acct"), boundaryTs = ts)
    JdbcSink.scd2(
      Seq((1L, 20L, "keep"), (1L, 30L, "x"), (2L, 20L, "y"))
        .toDF("tenant", "acct", "v"),
      cfg2, compCfg("2024-01-01 00:00:00"))
    JdbcSink.scd2(
      Seq((1L, 30L, "x2"), (2L, 20L, "y2")).toDF("tenant", "acct", "v"),
      cfg2, compCfg("2024-01-02 00:00:00"))
    val comp = Jdbc.read(spark, cfg2)
      .select("tenant", "acct", "v", "_dlt_valid_to")
      .as[(Long, Long, String, Option[java.sql.Timestamp])].collect().toSeq
    // (1,20) untouched-active; x and y retired; x2, y2 active
    assert(comp.count(_._4.isEmpty) === 3)
    assert(comp.find(r => r._1 == 1L && r._2 == 20L).get._4.isEmpty,
      "entity absent from the batch must stay active under a composite key")
  }

  test("jdbc sink: destinations evolve to new staged columns (widen-only)") {
    import graft.write.JdbcSink
    val cfg = graft.sources.JdbcTableConfig(
      url = "jdbc:derby:memory:graftevo;create=true", table = "t_evo")
    JdbcSink.append(Seq((1L, "a")).toDF("id", "v"), cfg)
    // second load carries a NEW column: destination ALTERs, old rows null
    JdbcSink.append(Seq((2L, "b", 7L)).toDF("id", "v", "score"), cfg)
    val out = Jdbc.read(spark, cfg).select("id", "v", "score")
      .as[(Long, String, Option[Long])].collect()
      .map { case (i, v, s) => i -> (v, s) }.toMap
    assert(out === Map(1L -> ("a", None), 2L -> ("b", Some(7L))))
    // merge path evolves too
    JdbcSink.mergeDeleteInsert(
      Seq((2L, "B", 8L, 0.5)).toDF("id", "v", "score", "w"), cfg, Seq("id"))
    val evolved = Jdbc.read(spark, cfg)
    assert(evolved.columns.toSeq == Seq("id", "v", "score", "w"))
    assert(evolved.count() === 2)
  }

  test("jdbc sink: identifiers normalize, casefold and shorten to the destination cap") {
    import graft.write.{JdbcCapabilities, JdbcSink}
    // capability inference is per engine (reference capabilities.py)
    assert(JdbcCapabilities.forUrl("jdbc:postgresql://h/db").maxIdentifierLength == 63)
    assert(JdbcCapabilities.forUrl("jdbc:mysql://h/db").quoteChar == '`')
    assert(JdbcCapabilities.forUrl("jdbc:derby:memory:x").supportsMerge)

    // a table name over derby's 128-char cap: normalized, shortened with
    // the stable tag, casefolded, and fully usable through merge + read
    val longName = "Event Log " + ("x" * 140)
    val cfg = graft.sources.JdbcTableConfig(
      url = "jdbc:derby:memory:graftsink3;create=true", table = longName)
    JdbcSink.mergeDeleteInsert(
      Seq((1L, "a")).toDF("id", "the Value"), cfg, keys = Seq("id"))
    JdbcSink.mergeUpsert(
      Seq((1L, "A"), (2L, "b")).toDF("id", "the Value"), cfg, keys = Seq("id"))
    val out = Jdbc.read(spark, cfg.copy(table =
      graft.schema.Naming.normalizeTableName(longName, 128).toUpperCase))
    // column names ride the same normalization ("the Value" → the_value)
    assert(out.columns.toSeq == Seq("id", "the_value"))
    assert(out.select("id", "the_value").as[(Long, String)].collect().toMap
      == Map(1L -> "A", 2L -> "b"))

    // two merges into one destination stage under DIFFERENT load-scoped
    // names: neither clobbers the other's staging rows
    val cfg2 = cfg.copy(table = "t_conc")
    JdbcSink.mergeDeleteInsert(Seq((1L, "a")).toDF("id", "v"), cfg2,
      Seq("id"), loadId = "load1")
    JdbcSink.mergeDeleteInsert(Seq((2L, "b")).toDF("id", "v"), cfg2,
      Seq("id"), loadId = "load2")
    assert(Jdbc.read(spark, cfg2).count() == 2)
  }

  test("rest: config-wired can_close derives the window from state") {
    val cfg = Incremental.Config(cursorColumn = "id", initialValue = Some("0"))
    val stop = Rest.outOfWindowStop(cfg,
      Incremental.State(Some("95"), Nil), Rest.RowOrder.Desc, Some("data"))
    assert(stop("""{"data":[{"id":94}]}"""))
    assert(!stop("""{"data":[{"id":97}]}"""))
  }
}
