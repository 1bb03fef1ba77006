package graft

import org.apache.spark.sql.functions._

/** DSv2 API source: schema, per-day partition planning, filter pushdown
  * narrowing the fetch window, determinism.
  */
class MonzoApiSourceSpec extends SparkSpec {

  private def read(since: String, until: String, rowsPerDay: Int = 50) =
    spark.read.format("graft.sources.v2.MonzoApiSource")
      .option("since", since).option("until", until)
      .option("rowsPerDay", rowsPerDay.toString)
      .load()

  test("reads rowsPerDay rows per day with one partition per day") {
    val df = read("2024-01-01", "2024-01-11")
    assert(df.count() === 10 * 50)
    assert(df.rdd.getNumPartitions === 10)
    assert(df.columns.toSeq ===
      Seq("id", "created", "amount", "currency", "category", "merchant_id"))
  }

  test("created >= bound narrows the fetch window (partition-level pushdown)") {
    val df = read("2024-01-01", "2024-01-31")
      .filter(col("created") >= lit("2024-01-25").cast("timestamp"))
    // only 6 day-slices (25..30) should be planned, not 30
    assert(df.rdd.getNumPartitions === 6)
    assert(df.count() === 6 * 50)
    val explained = df.queryExecution.executedPlan.toString
    assert(explained.contains("graft-monzo-api [since=2024-01-25"))
  }

  test("sub-day bound narrows to day granularity and residual-filters rows") {
    val df = read("2024-01-01", "2024-01-31")
      .filter(col("created") >= lit("2024-01-25 12:00:00").cast("timestamp"))
    assert(df.rdd.getNumPartitions === 6) // day 25 still fetched
    val cnt = df.count()
    assert(cnt < 6 * 50 && cnt > 4 * 50) // ~half of day 25 filtered out
    // every surviving row respects the original sub-day predicate
    assert(df.filter(col("created") < lit("2024-01-25 12:00:00").cast("timestamp"))
      .count() === 0)
  }

  test("created <= midnight bound still fetches that day (inclusive upper bound)") {
    val bound = lit("2024-01-15 00:00:00").cast("timestamp")
    val filtered = read("2024-01-10", "2024-01-31")
      .filter(col("created") <= bound)
    assert(filtered.rdd.getNumPartitions === 6) // days 10..15 inclusive
    val expected = read("2024-01-10", "2024-01-31").collect()
      .count(!_.getTimestamp(1).after(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
    assert(filtered.count() === expected)
  }

  test("limit pushdown: the reference's limit=200 page param reaches the source") {
    // S5 (api_client.py:158): LIMIT caps the FETCH, not a post-scan
    // operator over fully-fetched pages
    val df = read("2024-01-01", "2024-01-31", rowsPerDay = 200).limit(7)
    assert(df.count() === 7)
    val explained = df.queryExecution.executedPlan.toString
    assert(explained.contains("limit=7"),
      s"limit not pushed into the scan:\n$explained")
  }

  test("token lifecycle: refresh-always, rotate-or-keep, initial-auth terminal") {
    import graft.sources.v2._
    var grants = 0
    val exch = new TokenExchanger {
      override def refresh(rt: String): Tokens = {
        grants += 1
        // the SECOND grant must present the refresh token the first one
        // rotated in — store round-trip, not a cached constructor value
        assert(rt === (if (grants == 1) "r0" else "r1"), s"grant $grants got $rt")
        if (grants == 1) Tokens(s"a$grants", "r1", 1000L * grants)
        else Tokens(s"a$grants", "", 1000L * grants) // response carried no refresh token
      }
    }
    val store = new InMemoryTokenStore(Some(Tokens("a0", "r0", 0L)))
    val p = new RefreshAlwaysTokenProvider(store, exch)
    assert(p.token() === "a1")
    assert(store.load().get.refreshToken === "r1") // rotated
    assert(p.token() === "a2")
    assert(store.load().get.refreshToken === "r1") // kept when grant had none
    assert(grants === 2) // refresh-ALWAYS: one grant per call, no expiry fast path
    // no stored tokens = the reference's "Initial authentication required"
    val empty = new RefreshAlwaysTokenProvider(new InMemoryTokenStore(), exch)
    intercept[ReauthRequiredException] { empty.token() }
  }

  test("401 => exactly one refresh+retry; second 401 and evicted-refresh propagate") {
    import graft.sources.v2._
    def freshProvider(): (RefreshAlwaysTokenProvider, () => Int) = {
      var grants = 0
      val exch = new TokenExchanger {
        override def refresh(rt: String): Tokens = { grants += 1; Tokens(s"a$grants", rt, 0L) }
      }
      (new RefreshAlwaysTokenProvider(
        new InMemoryTokenStore(Some(Tokens("a0", "r0", 0L))), exch), () => grants)
    }
    // endpoint evicted a1 (concurrent login between refresh and use): the
    // single retry's a2 succeeds and yields the day's rows
    val (p1, grants1) = freshProvider()
    var calls1 = 0
    val ok = new AuthedFetcher(p1, (tok, d, n) => {
      calls1 += 1
      if (tok == "a1") throw new UnauthorizedException("401")
      else MonzoApiSource.SyntheticFetcher.fetchDay(d, n)
    })
    assert(ok.fetchDay(19723L, 7).size === 7)
    assert(calls1 === 2 && grants1() === 2)
    // an endpoint that keeps rejecting: exactly two attempts, then the 401
    // surfaces (no retry storm hidden in a task)
    val (p2, grants2) = freshProvider()
    var calls2 = 0
    intercept[UnauthorizedException] {
      new AuthedFetcher(p2, (_, _, _) => {
        calls2 += 1; throw new UnauthorizedException("401")
      }).fetchDay(19723L, 7)
    }
    assert(calls2 === 2 && grants2() === 2)
    // evicted refresh token: terminal ReauthRequired passes through the
    // retry path untouched (it is not a 401 to be retried)
    val evicted = new RefreshAlwaysTokenProvider(
      new InMemoryTokenStore(Some(Tokens("a0", "r0", 0L))),
      new TokenExchanger {
        override def refresh(rt: String): Tokens =
          throw new ReauthRequiredException("refresh token evicted")
      })
    intercept[ReauthRequiredException] {
      new AuthedFetcher(evicted,
        (_, _, _) => Iterator.empty).fetchDay(19723L, 7)
    }
  }

  test("AuthedFetcher drives the real DSv2 scan contracts end-to-end") {
    import graft.sources.v2._
    val provider = new RefreshAlwaysTokenProvider(
      new InMemoryTokenStore(Some(Tokens("a0", "r0", 0L))),
      new TokenExchanger {
        override def refresh(rt: String): Tokens = Tokens("live", rt, 0L)
      })
    val authed = new AuthedFetcher(provider, (tok, d, n) =>
      if (tok != "live") throw new UnauthorizedException("401")
      else MonzoApiSource.SyntheticFetcher.fetchDay(d, n))
    val scan = new ApiScan(
      java.time.LocalDate.parse("2024-01-01"),
      java.time.LocalDate.parse("2024-01-04"), 10, Int.MaxValue, authed)
    val parts = scan.planInputPartitions()
    assert(parts.length === 3)
    val rf = scan.createReaderFactory()
    val total = parts.map { pt =>
      val r = rf.createReader(pt)
      var c = 0
      while (r.next()) c += 1
      r.close()
      c
    }.sum
    assert(total === 30)
  }

  test("deterministic across reads; spend amounts are negative pence") {
    val a = read("2024-02-01", "2024-02-03").collect().map(_.toString).sorted
    val b = read("2024-02-01", "2024-02-03").collect().map(_.toString).sorted
    assert(a === b)
    val df = read("2024-02-01", "2024-02-03")
    assert(df.filter(col("amount") > 0).count() === 0)
    assert(df.select(countDistinct("id")).head().getLong(0) === df.count())
  }
}
