package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import graft.lake.{HttpConditionalPut, Versioned}

/** The pluggable commit substrate ([[Versioned.CasStore]] registry)
  * and its object-store implementation
  * ([[Versioned.ConditionalPutCasStore]]): the commit protocol must
  * stay exactly-once when the ONLY available primitive is a strongly
  * consistent conditional put (S3 `If-None-Match: *`, GCS
  * `ifGenerationMatch=0`) — no rename, no hard link, no lock, no
  * lease. The client here is an injected double whose atomicity is
  * one `ConcurrentHashMap.putIfAbsent` (the store-side claim); a won
  * claim writes the manifest through so readers see it, a lost claim
  * writes nothing — the exact observable contract of the real APIs.
  */
class VersionedCasStoreSpec extends SparkSuite {

  /** The store-side write behind a WON claim: visible in full or not
    * at all, as an object store never exposes a half-written object.
    * A plain `Files.write` creates the file before its bytes land, so
    * a racing reader could parse an empty manifest; the bytes go to a
    * sibling temp (no `v*.txt` name, so never read as a version) and
    * a hard link publishes them, refusing an existing target the way
    * `CREATE_NEW` did. */
  private def storeWrite(path: String, bytes: Array[Byte]): Unit = {
    val target = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Files.createTempFile(target.getParent,
      ".store-", ".tmp")
    try {
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.createLink(target, tmp)
    } finally java.nio.file.Files.delete(tmp)
  }

  /** Conditional-put double: map claim = the store's atomic
    * create-if-absent; write-through on a won claim only. */
  private final class MemoryConditionalPut
    extends Versioned.ConditionalPut {
    val claims = new ConcurrentHashMap[String, Boolean]()
    val puts = new AtomicInteger(0)
    val lost = new AtomicInteger(0)
    override def putIfAbsent(key: String,
        bytes: Array[Byte]): Boolean = {
      puts.incrementAndGet()
      if (claims.putIfAbsent(key, true) == null) {
        storeWrite(new Path(key).toUri.getPath, bytes)
        true
      } else { lost.incrementAndGet(); false }
    }
  }

  test("racing appends through a conditional-put-only store commit " +
      "exactly once each, versions contiguous") {
    val s = spark
    import s.implicits._
    val dir = tmpDir() + "/t"
    val client = new MemoryConditionalPut
    Versioned.registerCasStore(dir, new Versioned.ConditionalPutCasStore(
      client))
    try {
      Versioned.commit(s, dir, Seq((-1L, -1L)).toDF("w", "i")) // v0
      val writers = 4
      val perWriter = 5
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until writers).map { w =>
        new Thread(() =>
          try {
            for (i <- 0 until perWriter)
              Versioned.commit(s, dir,
                Seq((w.toLong, i.toLong)).toDF("w", "i"))
          } catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
      // every commit landed exactly once, versions contiguous
      assert(Versioned.latestVersion(s, dir)
        .contains(writers * perWriter))
      val rows = Versioned.read(s, dir).as[(Long, Long)].collect()
      assert(rows.length == writers * perWriter + 1)
      assert(rows.toSet.size == rows.length, "a commit landed twice")
      // the registered store really carried the publishes: one claim
      // per version, retries visible as lost puts
      assert(client.claims.size() == writers * perWriter + 1)
      assert(client.puts.get() >= writers * perWriter + 1)
      assert(client.puts.get() ==
        writers * perWriter + 1 + client.lost.get())
      // every version stays readable through the normal path
      assert(Versioned.read(s, dir, Some(0)).count() == 1)
    } finally Versioned.unregisterCasStore(dir)
  }

  test("registry routing: longest path prefix wins; unregistered " +
      "tables keep the built-in store") {
    val s = spark
    import s.implicits._
    val root = tmpDir()
    val a = s"$root/wh/a"
    val b = s"$root/wh/b"
    val whClient = new MemoryConditionalPut
    val aClient = new MemoryConditionalPut
    Versioned.registerCasStore(s"$root/wh",
      new Versioned.ConditionalPutCasStore(whClient))
    Versioned.registerCasStore(a,
      new Versioned.ConditionalPutCasStore(aClient))
    try {
      Versioned.commit(s, a, Seq(1L).toDF("x"))
      Versioned.commit(s, b, Seq(2L).toDF("x"))
      assert(aClient.puts.get() == 1,
        "table-scoped registration must shadow the warehouse prefix")
      assert(whClient.puts.get() == 1)
      // a registration for .../a must NOT capture the sibling .../a2
      // (prefix matches end at a path-segment boundary)
      Versioned.commit(s, s"$root/wh/a2", Seq(4L).toDF("x"))
      assert(aClient.puts.get() == 1,
        "table-prefix registration captured a sibling table")
      assert(whClient.puts.get() == 2,
        "the sibling must fall through to the warehouse prefix")
      val c = s"$root/elsewhere/c"
      Versioned.commit(s, c, Seq(3L).toDF("x"))
      assert(aClient.puts.get() == 1 && whClient.puts.get() == 2,
        "an unregistered table must not route through the registry")
      assert(Versioned.read(s, c).count() == 1)
    } finally {
      Versioned.unregisterCasStore(s"$root/wh")
      Versioned.unregisterCasStore(a)
    }
  }

  test("HttpConditionalPut speaks the object-store conditional-put " +
      "wire shape: the same race battery passes over real HTTP " +
      "against a local emulator") {
    val s = spark
    import s.implicits._
    val dir = tmpDir() + "/http"
    // in-process emulator of the store's wire contract: atomicity is
    // one putIfAbsent claim; a won PUT returns 200 and writes the
    // bytes through to disk (so readers see the manifest), a lost PUT
    // returns 412 Precondition Failed and writes nothing — exactly
    // S3's `If-None-Match: *` observable behavior
    val claims = new ConcurrentHashMap[String, Boolean]()
    val sawHeader = new AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val key = exchange.getRequestURI.getPath
      val bytes = exchange.getRequestBody.readAllBytes()
      if ("*" == exchange.getRequestHeaders.getFirst("If-None-Match"))
        sawHeader.incrementAndGet()
      val won = claims.putIfAbsent(key, true) == null
      if (won)
        storeWrite(key, bytes)
      exchange.sendResponseHeaders(if (won) 200 else 412, -1)
      exchange.close()
    })
    server.start()
    val port = server.getAddress.getPort
    val client = new HttpConditionalPut(
      key => java.net.URI.create(
        s"http://127.0.0.1:$port${new Path(key).toUri.getPath}"))
    Versioned.registerCasStore(dir,
      new Versioned.ConditionalPutCasStore(client))
    try {
      Versioned.commit(s, dir, Seq((-1L, -1L)).toDF("w", "i")) // v0
      val writers = 4
      val perWriter = 5
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until writers).map { w =>
        new Thread(() =>
          try {
            for (i <- 0 until perWriter)
              Versioned.commit(s, dir,
                Seq((w.toLong, i.toLong)).toDF("w", "i"))
          } catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
      assert(Versioned.latestVersion(s, dir)
        .contains(writers * perWriter))
      val rows = Versioned.read(s, dir).as[(Long, Long)].collect()
      assert(rows.length == writers * perWriter + 1)
      assert(rows.toSet.size == rows.length, "a commit landed twice")
      // one store-side claim per version; the precondition header
      // rode every request (it IS the atomicity)
      assert(claims.size() == writers * perWriter + 1)
      assert(sawHeader.get() >= writers * perWriter + 1)
      assert(Versioned.read(s, dir, Some(0)).count() == 1)
    } finally {
      Versioned.unregisterCasStore(dir)
      server.stop(0)
    }
  }

  test("SigV4Signer reproduces AWS's published documentation vector " +
      "exactly") {
    // the worked example from the AWS General Reference (Signature
    // Version 4 signing process): GET iam.amazonaws.com ListUsers at
    // 20150830T123600Z — the vector every SDK validates its signer
    // against. The credential pair below is NOT a secret: it is
    // AWS's own PUBLISHED documentation example ("AKIDEXAMPLE" /
    // "...EXAMPLEKEY"), printed verbatim in the public signing guide
    // precisely so implementations can pin this test.
    val signer = new graft.lake.SigV4Signer(
      "AKIDEXAMPLE",
      "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
      "us-east-1", "iam",
      clock = () => java.time.Instant.parse("2015-08-30T12:36:00Z"))
    val out = signer.sign("GET",
      java.net.URI.create(
        "https://iam.amazonaws.com/?Action=ListUsers&Version=2010-05-08"),
      Seq("content-type" ->
        "application/x-www-form-urlencoded; charset=utf-8"),
      Array.emptyByteArray).toMap
    assert(out("x-amz-date") == "20150830T123600Z")
    assert(out("Authorization") ==
      "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20150830/us-east-1/" +
        "iam/aws4_request, SignedHeaders=content-type;host;" +
        "x-amz-date, Signature=5d672d79c15b13162d9279b0855cfba6789a8" +
        "edb4c82c400e06b5924a6f2b5d7",
      s"signature mismatch: ${out("Authorization")}")
  }

  test("SigV4Signer signs a scheme-default port (:443/:80) as the " +
      "bare host — matching the Host header JDK HttpClient sends") {
    // JDK Http1Request.hostString strips scheme-default ports from
    // the wire Host header; signing 'host:443' would therefore fail
    // every request with SignatureDoesNotMatch. Explicit NON-default
    // ports stay (the JDK keeps those on the wire too).
    val clock = () => java.time.Instant.parse("2015-08-30T12:36:00Z")
    def auth(uri: String): String =
      new graft.lake.SigV4Signer("AKIDEXAMPLE",
        "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
        "us-east-1", "s3", clock = clock)
        .sign("PUT", java.net.URI.create(uri), Nil, Array[Byte](1))
        .toMap.apply("Authorization")
    assert(auth("https://b.s3.amazonaws.com:443/k") ==
      auth("https://b.s3.amazonaws.com/k"),
      ":443 on https must sign identically to no port")
    assert(auth("http://b.s3.amazonaws.com:80/k") ==
      auth("http://b.s3.amazonaws.com/k"),
      ":80 on http must sign identically to no port")
    assert(auth("http://b.s3.amazonaws.com:9000/k") !=
      auth("http://b.s3.amazonaws.com/k"),
      "an explicit non-default port must stay in the signed host")
  }

  test("a SigV4-signed HttpConditionalPut carries a verifiable " +
      "payload hash and Authorization over real HTTP") {
    val s = spark
    import s.implicits._
    val dir = tmpDir() + "/signed"
    val claims = new ConcurrentHashMap[String, Boolean]()
    val badAuth = new AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val key = exchange.getRequestURI.getPath
      val bytes = exchange.getRequestBody.readAllBytes()
      val h = exchange.getRequestHeaders
      // the emulator verifies what the STORE would: it holds the
      // shared secret, so it RE-DERIVES the full SigV4 signature from
      // the received request (method, uri, signed headers, payload)
      // and compares Authorization byte-for-byte — a canonicalization
      // bug anywhere in the chain fails here, not in production
      val declared = h.getFirst("x-amz-content-sha256")
      val computed = java.security.MessageDigest.getInstance("SHA-256")
        .digest(bytes).map("%02x".format(_)).mkString
      val auth = Option(h.getFirst("Authorization")).getOrElse("")
      val rederived = Option(h.getFirst("x-amz-date")).map { d =>
        val t = java.time.LocalDateTime.parse(d,
          java.time.format.DateTimeFormatter
            .ofPattern("yyyyMMdd'T'HHmmss'Z'"))
          .toInstant(java.time.ZoneOffset.UTC)
        new graft.lake.SigV4Signer("AKIDTEST", "secret", "eu-test-1",
          "s3", clock = () => t)
          .sign("PUT",
            java.net.URI.create(
              s"http://${h.getFirst("Host")}$key"),
            Seq("If-None-Match" ->
              h.getFirst("If-None-Match")), bytes)
          .toMap.apply("Authorization")
      }.getOrElse("")
      if (declared != computed || auth.isEmpty || auth != rederived)
        badAuth.incrementAndGet()
      val won = claims.putIfAbsent(key, true) == null
      if (won)
        storeWrite(key, bytes)
      exchange.sendResponseHeaders(if (won) 200 else 412, -1)
      exchange.close()
    })
    server.start()
    val port = server.getAddress.getPort
    val client = new graft.lake.HttpConditionalPut(
      key => java.net.URI.create(
        s"http://127.0.0.1:$port${new Path(key).toUri.getPath}"),
      signer = new graft.lake.SigV4Signer(
        "AKIDTEST", "secret", "eu-test-1", "s3"))
    Versioned.registerCasStore(dir,
      new Versioned.ConditionalPutCasStore(client))
    try {
      (1 to 3).foreach(i =>
        Versioned.commit(s, dir, Seq(i.toLong).toDF("x")))
      assert(badAuth.get() == 0,
        "every publish must carry a correct payload hash and scope")
      assert(Versioned.read(s, dir).count() == 3)
      assert(claims.size() == 3)
    } finally {
      Versioned.unregisterCasStore(dir)
      server.stop(0)
    }
  }

  test("GCS JSON-API dialect (POST + ifGenerationMatch=0 query " +
      "precondition): the same race battery passes over real HTTP") {
    val s = spark
    import s.implicits._
    val dir = tmpDir() + "/gcs"
    // emulator of the GCS JSON API's media-upload conditional create:
    // atomicity is one putIfAbsent claim keyed by the object NAME from
    // the query string; a won POST returns 200 and writes through, a
    // lost one returns 412 Precondition Failed — observable behavior
    // of ifGenerationMatch=0 on an existing object
    val claims = new ConcurrentHashMap[String, Boolean]()
    val sawPrecondition = new AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/upload/storage/v1/b/", { exchange =>
      val bytes = exchange.getRequestBody.readAllBytes()
      val q = Option(exchange.getRequestURI.getRawQuery).getOrElse("")
        .split('&').map { kv =>
          val i = kv.indexOf('=')
          java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
            java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
        }.toMap
      if (exchange.getRequestMethod == "POST" &&
          q.get("uploadType").contains("media") &&
          q.get("ifGenerationMatch").contains("0"))
        sawPrecondition.incrementAndGet()
      val name = q("name")
      val won = claims.putIfAbsent(name, true) == null
      if (won)
        storeWrite(name, bytes)
      exchange.sendResponseHeaders(if (won) 200 else 412, -1)
      exchange.close()
    })
    server.start()
    val port = server.getAddress.getPort
    val client = HttpConditionalPut.gcsJson(
      s"http://127.0.0.1:$port", "test-bucket",
      keyToName = key => new Path(key).toUri.getPath)
    Versioned.registerCasStore(dir,
      new Versioned.ConditionalPutCasStore(client))
    try {
      Versioned.commit(s, dir, Seq((-1L, -1L)).toDF("w", "i")) // v0
      val writers = 4
      val perWriter = 5
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until writers).map { w =>
        new Thread(() =>
          try {
            for (i <- 0 until perWriter)
              Versioned.commit(s, dir,
                Seq((w.toLong, i.toLong)).toDF("w", "i"))
          } catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
      assert(Versioned.latestVersion(s, dir)
        .contains(writers * perWriter))
      val rows = Versioned.read(s, dir).as[(Long, Long)].collect()
      assert(rows.length == writers * perWriter + 1)
      assert(rows.toSet.size == rows.length, "a commit landed twice")
      assert(claims.size() == writers * perWriter + 1)
      assert(sawPrecondition.get() >= writers * perWriter + 1,
        "the query-param precondition must ride every request")
      assert(Versioned.read(s, dir, Some(0)).count() == 1)
    } finally {
      Versioned.unregisterCasStore(dir)
      server.stop(0)
    }
  }

  test("session-token credentials and requester-pays headers sign " +
      "verifiably: the emulator re-derives the full SigV4 signature " +
      "including x-amz-security-token") {
    val s = spark
    import s.implicits._
    val dir = tmpDir() + "/signed-sts"
    val token = "FQoGZXIvYXdzEXAMPLETOKENEXAMPLETOKEN" // doc-style value
    val claims = new ConcurrentHashMap[String, Boolean]()
    val badAuth = new AtomicInteger(0)
    val sawToken = new AtomicInteger(0)
    val sawPayer = new AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val key = exchange.getRequestURI.getPath
      val bytes = exchange.getRequestBody.readAllBytes()
      val h = exchange.getRequestHeaders
      if (Option(h.getFirst("x-amz-security-token")).contains(token))
        sawToken.incrementAndGet()
      if (Option(h.getFirst("x-amz-request-payer")).contains("requester"))
        sawPayer.incrementAndGet()
      val auth = Option(h.getFirst("Authorization")).getOrElse("")
      // the store's own check: re-derive the signature from the
      // received request WITH the session token — an unsigned or
      // missigned token fails here exactly as S3 would reject it
      val rederived = Option(h.getFirst("x-amz-date")).map { d =>
        val t = java.time.LocalDateTime.parse(d,
          java.time.format.DateTimeFormatter
            .ofPattern("yyyyMMdd'T'HHmmss'Z'"))
          .toInstant(java.time.ZoneOffset.UTC)
        new graft.lake.SigV4Signer("AKIDTEST", "secret", "eu-test-1",
          "s3", clock = () => t, sessionToken = Some(token))
          .sign("PUT",
            java.net.URI.create(s"http://${h.getFirst("Host")}$key"),
            Seq("If-None-Match" -> h.getFirst("If-None-Match"),
              "x-amz-request-payer" ->
                h.getFirst("x-amz-request-payer")), bytes)
          .toMap.apply("Authorization")
      }.getOrElse("")
      if (auth.isEmpty || auth != rederived) badAuth.incrementAndGet()
      val won = claims.putIfAbsent(key, true) == null
      if (won)
        storeWrite(key, bytes)
      exchange.sendResponseHeaders(if (won) 200 else 412, -1)
      exchange.close()
    })
    server.start()
    val port = server.getAddress.getPort
    val client = new graft.lake.HttpConditionalPut(
      key => java.net.URI.create(
        s"http://127.0.0.1:$port${new Path(key).toUri.getPath}"),
      headers = Map("x-amz-request-payer" -> "requester"),
      signer = new graft.lake.SigV4Signer(
        "AKIDTEST", "secret", "eu-test-1", "s3",
        sessionToken = Some(token)))
    Versioned.registerCasStore(dir,
      new Versioned.ConditionalPutCasStore(client))
    try {
      (1 to 3).foreach(i =>
        Versioned.commit(s, dir, Seq(i.toLong).toDF("x")))
      assert(badAuth.get() == 0,
        "every publish must re-derive byte-equal WITH the token signed")
      assert(sawToken.get() == claims.size() &&
        sawPayer.get() >= claims.size(),
        "token and requester-pays headers must ride every request")
      assert(Versioned.read(s, dir).count() == 3)
    } finally {
      Versioned.unregisterCasStore(dir)
      server.stop(0)
    }
    // the token CHANGES the signature — signing with and without must
    // differ (an implementation that drops the token from the signed
    // set would pass the header assertions but fail live against S3)
    val clock = () => java.time.Instant.parse("2015-08-30T12:36:00Z")
    def auth(tok: Option[String]): String =
      new graft.lake.SigV4Signer("AKIDEXAMPLE",
        "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
        "us-east-1", "s3", clock = clock, sessionToken = tok)
        .sign("PUT", java.net.URI.create("https://b.s3.amazonaws.com/k"),
          Nil, Array[Byte](1)).toMap.apply("Authorization")
    assert(auth(Some(token)) != auth(None))
    assert(auth(Some(token)).contains("x-amz-security-token"),
      "the token must appear in SignedHeaders")
  }

  test("HttpConditionalPut refuses to guess on a non-conditional " +
      "error status: a 500 must throw, never report a lost race") {
    val boom = new HttpConditionalPut(
      key => java.net.URI.create(s"http://127.0.0.1:1$key"),
      transport = _ => 500)
    val e = intercept[java.io.IOException](
      boom.putIfAbsent("/x", Array[Byte](1)))
    assert(e.getMessage.contains("HTTP 500"))
    val lost = new HttpConditionalPut(
      key => java.net.URI.create(s"http://127.0.0.1:1$key"),
      transport = _ => 409) // Azure's BlobAlreadyExists shape
    assert(!lost.putIfAbsent("/x", Array[Byte](1)))
  }

  test("link-published commits leave no orphaned .crc sidecars in " +
      "_manifest") {
    val s = spark
    import s.implicits._
    val dir = tmpDir() + "/crc"
    // LinkCasStore is the local-FS default: each commit stages a tmp
    // through ChecksumFileSystem (which shadows it with a .crc
    // sidecar) and publishes via link(2) + NIO delete — the sidecar
    // must be removed explicitly or _manifest grows one orphan per
    // commit forever
    (1 to 5).foreach(i => Versioned.commit(s, dir, Seq(i.toLong).toDF("x")))
    val names = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "_manifest"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(names.count(_.endsWith(".crc")) == 0,
      s"orphaned crc sidecars after 5 commits: ${names.mkString(", ")}")
    assert(names.count(_.matches("v\\d{5}\\.txt")) == 5)
  }
}
