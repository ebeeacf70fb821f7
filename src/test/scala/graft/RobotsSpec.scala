package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Robots
import graft.sources.Robots.{Rule, isAllowed, parse, patternMatches, rulesFor}

class RobotsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("pattern matching: prefix semantics, * wildcards, $ anchor, empty pattern") {
    assert(patternMatches("/data", "/data/raw/x"))
    assert(patternMatches("/data", "/data"))
    assert(!patternMatches("/data", "/dat"))
    assert(!patternMatches("/data", "/other/data"), "rules match from the path START")
    // * spans any run of octets, including none
    assert(patternMatches("/a*b", "/ab"))
    assert(patternMatches("/a*b", "/a-very-long-b"))
    assert(patternMatches("/a*b", "/axbyb"), "star must backtrack to later resumes")
    assert(!patternMatches("/a*b", "/ax"))
    assert(patternMatches("/*/private", "/x/private/page"))
    // $ anchors the END of the path
    assert(patternMatches("/*.log$", "/tmp/run.log"))
    assert(!patternMatches("/*.log$", "/tmp/run.log.1"), "$ must bind to the end")
    assert(patternMatches("/*.log", "/tmp/run.log.1"), "without $ the same pattern is a prefix rule")
    assert(patternMatches("/exact$", "/exact"))
    assert(!patternMatches("/exact$", "/exactly"))
    // empty pattern (Disallow:) matches nothing
    assert(!patternMatches("", "/anything"))
    // fuzz: arbitrary patterns/paths never hang or throw
    val rnd = new scala.util.Random(17)
    val alphabet = "ab*$/"
    for (_ <- 0 until 2000) {
      val p = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val s = Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(3))).mkString
      patternMatches(p, if (s.isEmpty) "/" else s)
    }
  }

  test("verdicts: longest match wins, ties go to Allow, no match allows") {
    val rules = Seq(Rule(false, "/data"), Rule(true, "/data/pub"), Rule(true, "/"))
    assert(!isAllowed(rules, "/data/raw/x"), "short Disallow beats the / Allow")
    assert(isAllowed(rules, "/data/pub/x"), "longest match (Allow /data/pub) overrides Disallow /data")
    assert(isAllowed(rules, "/elsewhere"))
    assert(isAllowed(Nil, "/anything"), "no rules: everything allowed")
    // exact tie in pattern LENGTH breaks toward Allow (RFC 9309)
    val tie = Seq(Rule(false, "/aaa"), Rule(true, "/aab"))
    assert(isAllowed(tie, "/aab/x") && !isAllowed(tie, "/aaa/x"))
    val sameLen = Seq(Rule(false, "/p/q"), Rule(true, "/p/*"))
    assert(isAllowed(sameLen, "/p/q"), "equal-length Allow and Disallow both match: Allow wins")
  }

  test("parsing and group selection: agent specificity, * fallback, tolerance") {
    val txt =
      """# policy
        |User-agent: megabot
        |User-agent: megabot-images
        |Disallow: /m
        |
        |User-agent: *
        |Disallow: /all
        |Sitemap: https://x/sitemap.xml
        |Crawl-delay: 10
        |garbage line without colon
        |: no key
        |""".stripMargin
    val groups = parse(txt)
    assert(groups.length == 2)
    assert(groups.head.agents == Seq("megabot", "megabot-images"), "stacked agent lines share rules")
    // longest agent token wins for the product token
    assert(rulesFor(groups, "MegaBot-Images/2.0") == Seq(Rule(false, "/m")))
    assert(rulesFor(groups, "megabot/1.0") == Seq(Rule(false, "/m")))
    assert(rulesFor(groups, "otherbot") == Seq(Rule(false, "/all")), "* group is the fallback")
    // no * group, no agent match: no rules
    assert(rulesFor(parse("User-agent: x\nDisallow: /"), "y") == Nil)
    // a User-agent line AFTER rules starts a NEW group
    val two = parse("User-agent: a\nDisallow: /1\nUser-agent: b\nDisallow: /2")
    assert(two.length == 2 && two(1).rules == Seq(Rule(false, "/2")))
    // hostile input never throws
    parse("\u0000\u0000::::\n#")
    parse("")
  }

  test("RFC 9309 §2.2.1: split groups for the same agent COMBINE their rules") {
    // two separated groups both naming megabot — rules concatenate,
    // so the Allow in the second group still wins longest-match
    val txt =
      """User-agent: megabot
        |Disallow: /data
        |
        |User-agent: other
        |Disallow: /
        |
        |User-agent: megabot
        |Allow: /data/pub
        |""".stripMargin
    val rules = rulesFor(parse(txt), "megabot/3.1")
    assert(rules == Seq(Rule(false, "/data"), Rule(true, "/data/pub")),
      s"split groups must merge in file order, got $rules")
    assert(isAllowed(rules, "/data/pub/x") && !isAllowed(rules, "/data/raw/x"))
    // split * fallback groups combine the same way
    val star = rulesFor(parse(
      "User-agent: *\nDisallow: /a\n\nUser-agent: *\nDisallow: /b"), "anybot")
    assert(star == Seq(Rule(false, "/a"), Rule(false, "/b")))
    // merging only applies to the WINNING token: a shorter-token
    // group does not leak into a longer match
    val mixed = rulesFor(parse(
      "User-agent: mega\nDisallow: /short\n\nUser-agent: megabot\nDisallow: /long"),
      "megabot/1.0")
    assert(mixed == Seq(Rule(false, "/long")))
  }

  test("llm_robots_filter: distributed verdicts reproduce the closed-form case table") {
    val got = Robots.robotsFilter(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    val want = graft.sources.Tables.documents(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("doc_id", "n_chars").collect()
      .map { r =>
        val id = r.getLong(0); val n = r.getLong(1).toInt
        val (path, ok) = (n % 4) match {
          case 0 => (s"/data/pub/$id", true)
          case 1 => (s"/data/raw/$id", false)
          case 2 => (s"/tmp/run$id.log", false)
          case _ => (s"/tmp/run$id.txt", true)
        }
        id -> ((path, ok))
      }.toMap
    assert(got.keySet == want.keySet)
    assert(got == want, "robots verdicts diverge from the synthesized policy's closed form")
    assert(got.values.map(_._2).toSet == Set(true, false), "both verdicts must occur")
  }

  test("hostile inputs are BOUNDED: star-bomb patterns hit the step budget, oversized robots.txt truncates") {
    // both the robots body and the probed path are attacker-supplied
    // at audit time; the matcher's backtracking is Θ(p×s) on a
    // star-bomb, so the step budget must make the verdict cheap
    // worst case of last-star-resume backtracking: a long literal run
    // after a star rescans per shift — Θ(p×s) ≈ 2e8 raw steps here
    val starBomb = "/*" + "a" * 2000 + "b"
    val longPath = "/" + "a" * 100000
    // counted work, not wall time: the match proof stops at the step
    // budget, and a Disallow it could not prove still blocks the fetch
    assert(Robots.matchBounded(starBomb, longPath) == Robots.Exhausted,
      "the step budget did not stop the star-bomb match")
    assert(!Robots.isAllowed(Seq(Robots.Rule(allow = false, starBomb)), longPath),
      "an exhausted Disallow proof must fail closed")
    assert(!Robots.patternMatches(starBomb, longPath),
      "the hostile rule does not match (and the budget caps the proof)")
    // sane wildcard rules are nowhere near the budget and still match
    assert(Robots.patternMatches("/tmp/*.log$", "/tmp/run7.log"))
    assert(Robots.patternMatches("/a*b*c", "/aXXbYYc-and-more"))
    // a 5 MB robots.txt parses only its first 512 KiB of rules: the
    // in-cap group governs, the past-cap Allow is never seen
    val pad = ("# filler " + "x" * 90 + "\n") * 60000   // ~6 MB of comments
    val big = "User-agent: *\nDisallow: /data\n" + pad + "Allow: /data\n"
    val rules = Robots.rulesFor(Robots.parse(big), "graftbot/1.0")
    assert(rules == Seq(Robots.Rule(allow = false, "/data")),
      "rules past the 512 KiB cap must not be parsed (RFC 9309 §2.5 reference bound)")
    assert(!Robots.isAllowed(rules, "/data/x"))
  }

  test("budget exhaustion fails CLOSED: an unproved rule disallows the fetch") {
    // the star-bomb below blows the 1M-step budget against the long
    // path — whether the hostile rule is a Disallow or an Allow, the
    // verdict that gates a FETCH must be 'disallowed': failing open
    // on an undecidable Disallow would be a politeness violation
    val starBomb = "/*" + "a" * 2000 + "b"
    val longPath = "/" + "a" * 100000
    assert(!Robots.isAllowed(Seq(Rule(allow = false, starBomb)), longPath),
      "exhausted Disallow must fail closed, not read as non-matching")
    assert(!Robots.isAllowed(Seq(Rule(allow = true, starBomb)), longPath),
      "exhaustion of ANY governing rule disallows — the group is unproved")
    // a decidable group is unaffected: same rules, short path
    assert(Robots.isAllowed(Seq(Rule(allow = false, starBomb)), "/short"))
  }

  test("oversize truncation lands on a line boundary — no synthesized partial rule") {
    // pad to just under the 512 Ki-char cap, then a rule that CROSSES
    // it: a mid-line cut would clip 'Disallow: /private' to a shorter
    // spurious rule (e.g. 'Disallow: /p') that disallows far more
    // than the author wrote — the cut must drop the partial line
    val cap = 512 * 1024
    val head = "User-agent: *\nDisallow: /data\n"
    val fill = "# " + "f" * (cap - head.length - 12) + "\n"
    val txt = head + fill + "Disallow: /private-and-beyond-the-cap\n"
    assert(txt.length > cap, "the rule must straddle the cap for this test to bite")
    val rules = Robots.rulesFor(Robots.parse(txt), "graftbot/1.0")
    assert(rules == Seq(Rule(allow = false, "/data")),
      s"partial straddling line must be dropped whole, got $rules")
    assert(Robots.isAllowed(rules, "/p"), "no spurious '/p…' prefix rule may survive")
    // a single giant line with no newline inside the cap: nothing
    // parseable survives — zero groups, everything allowed
    val oneLine = "User-agent: *" + "x" * (cap + 100)
    assert(Robots.parse(oneLine).isEmpty)
    // CR-only line endings (old-Mac robots.txt still occur in crawl
    // data): the oversize cut must land on the last CR, NOT drop the
    // whole policy — an emptied policy parses zero rules and fails
    // OPEN, the politeness violation direction
    val crHead = "User-agent: *\rDisallow: /data\r"
    val crFill = ("# " + "f" * 98 + "\r") * (cap / 101 + 20)
    val crTxt = crHead + crFill
    assert(crTxt.length > cap)
    val crRules = Robots.rulesFor(Robots.parse(crTxt), "graftbot/1.0")
    assert(crRules == Seq(Rule(allow = false, "/data")),
      s"CR-only oversize policy must keep its in-cap rules, got $crRules")
    assert(!Robots.isAllowed(crRules, "/data/x"))
  }

  test("Crawl-delay: group selection, last-wins, split-group max, clamp, junk tolerance") {
    import graft.sources.Robots.crawlDelayMs
    val txt =
      """User-agent: badbot
        |Crawl-delay: 99
        |
        |User-agent: *
        |Disallow: /x
        |Crawl-delay: 2
        |""".stripMargin
    assert(crawlDelayMs(parse(txt), "graftbot/1.0").contains(2000L),
      "the * group's delay governs, not badbot's")
    assert(crawlDelayMs(parse(txt), "badbot").contains(99000L))
    assert(crawlDelayMs(parse("User-agent: *\nDisallow: /x\n"), "g").isEmpty,
      "no declaration -> None (caller picks its default)")
    assert(crawlDelayMs(parse("User-agent: *\nCrawl-delay: 0.5\n"), "g").contains(500L),
      "fractional seconds are real-world robots.txt")
    assert(crawlDelayMs(parse("User-agent: *\nCrawl-delay: 1\nCrawl-delay: 3\n"), "g")
      .contains(3000L), "last declaration in a group wins")
    val split = "User-agent: *\nCrawl-delay: 1\n\nUser-agent: *\nDisallow: /y\nCrawl-delay: 4\n"
    assert(crawlDelayMs(parse(split), "g").contains(4000L),
      "split * groups combine; the LARGEST delay wins (politeness-conservative)")
    assert(crawlDelayMs(parse("User-agent: *\nCrawl-delay: 999999999\n"), "g")
      .contains(3600L * 1000L), "a hostile delay clamps to an hour, it must not halt the crawler")
    assert(crawlDelayMs(parse("User-agent: *\nCrawl-delay: soon\n"), "g").isEmpty,
      "junk values ignored, never fatal")
    assert(crawlDelayMs(parse("User-agent: *\nCrawl-delay: -5\n"), "g").isEmpty,
      "negative delays ignored")
    // crawl-delay bounds its group like a rule: a User-agent line
    // after it starts a NEW group, and the record stays in the old one
    val bounded = "User-agent: a\nCrawl-delay: 7\nUser-agent: b\nDisallow: /z\n"
    assert(crawlDelayMs(parse(bounded), "a").contains(7000L))
    assert(crawlDelayMs(parse(bounded), "b").isEmpty)
    assert(rulesFor(parse(bounded), "b") == Seq(Rule(allow = false, "/z")))
  }

  test("Sitemap records: global scope, order kept, relative dropped, junk tolerated, bounded") {
    import graft.sources.Robots.sitemaps
    val txt =
      """Sitemap: https://h/s1.xml
        |User-agent: *
        |Disallow: /x
        |Sitemap: http://h/s2.xml
        |# Sitemap: https://h/commented-out.xml
        |sitemap: https://h/s3-case.xml
        |Sitemap: /relative-not-fetchable.xml
        |Sitemap:
        |Sitemap https://h/no-colon-ignored.xml
        |""".stripMargin
    assert(sitemaps(txt) == Seq("https://h/s1.xml", "http://h/s2.xml", "https://h/s3-case.xml"),
      "global records in file order — before, inside and after groups; case-insensitive key")
    // sitemap lines must not perturb group/rule parsing
    assert(rulesFor(parse(txt), "anybot") == Seq(Rule(allow = false, "/x")))
    assert(sitemaps("no directives at all") == Nil)
    // oversize: the same line-boundary cap as parse
    val cap = 512 * 1024
    val fill = "# " + "f" * (cap + 100) + "\n"
    assert(sitemaps(fill + "Sitemap: https://h/past-cap.xml\n") == Nil,
      "records past the cap are not seen")
  }

  test("allowedCol null semantics: null in, null out") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, "User-agent: *\nDisallow: /data\n", "/data/x"),
      (2L, null.asInstanceOf[String], "/data/x"),
      (3L, "User-agent: *\nDisallow: /data\n", null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("id", "robots_txt", "path")
    val verdicts = df.select(col("id"), Robots.allowedCol(col("robots_txt"), col("path")).as("a"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getBoolean(1))).toMap
    assert(verdicts == Map(1L -> false, 2L -> null, 3L -> null, 4L -> null))
  }
}
