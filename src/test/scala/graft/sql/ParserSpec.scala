package graft.sql

import org.scalatest.funsuite.AnyFunSuite

class ParserSpec extends AnyFunSuite {

  test("simple select with where") {
    val q = Parser.parse(
      "SELECT deviceId, temperature FROM stream WHERE temperature > 25")
    assert(q.items.size == 2)
    assert(q.from == "stream")
    assert(q.where.contains(BinOp(">", Ident.simple("temperature"), NumberLit("25"))))
  }

  test("arithmetic transform with alias") {
    val q = Parser.parse(
      "SELECT deviceId, temperature * 1.8 + 32 AS fahrenheit FROM stream")
    assert(q.items(1).alias.contains("fahrenheit"))
    assert(q.items(1).expr ==
      BinOp("+", BinOp("*", Ident.simple("temperature"), NumberLit("1.8")), NumberLit("32")))
  }

  test("group by with tumbling window and WITH options") {
    val q = Parser.parse(
      "SELECT deviceId, AVG(temperature) AS avg_temp FROM stream " +
        "GROUP BY deviceId, TumblingWindow('5s') WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    assert(q.window.contains(TumblingWindow(5000)))
    assert(q.groupBy == List(Ident.simple("deviceId")))
    assert(q.options == Map("TIMESTAMP" -> "ts", "TIMEUNIT" -> "ms"))
  }

  test("WITH rejects unknown option keys, naming the key and the seven it accepts") {
    val keys = Seq("TIMESTAMP", "TIMEUNIT", "TIEBREAK", "MAXOUTOFORDERNESS",
      "ALLOWEDLATENESS", "IDLETIMEOUT", "STATETTL")
    for (bad <- Seq("STATETL='1h'", "STATEOP='tws'")) {
      val e = intercept[ParseException](Parser.parse(
        "SELECT deviceId, lag(temperature) OVER (PARTITION BY deviceId) AS p " +
          s"FROM stream WITH (TIMESTAMP='ts', $bad)"))
      val key = bad.takeWhile(_ != '=')
      assert(e.getMessage.contains(s"'$key'"), e.getMessage)
      keys.foreach(k => assert(e.getMessage.contains(k), e.getMessage))
    }
    val all = keys.map(k => s"$k='1s'").mkString(", ")
    assert(Parser.parse(s"SELECT a FROM stream WITH ($all)").options.keySet == keys.toSet)
  }

  test("sliding, session, counting, global windows") {
    assert(Parser.parse("SELECT count(*) AS c FROM stream GROUP BY SlidingWindow('10s','2s')")
      .window.contains(SlidingWindow(10000, 2000)))
    assert(Parser.parse("SELECT count(*) AS c FROM stream GROUP BY SessionWindow('5m')")
      .window.contains(SessionWindow(300000)))
    assert(Parser.parse("SELECT count(*) AS c FROM stream GROUP BY deviceId, CountingWindow(10)")
      .window.contains(CountingWindow(10)))
    val g = Parser.parse("SELECT count(*) AS c FROM stream GROUP BY deviceId, GLOBAL WINDOW")
    assert(g.window.contains(GlobalWindow(None)))
  }

  test("GROUP BY ROLLUP / CUBE grouping style") {
    val r = Parser.parse("SELECT a, b, count(*) AS c FROM stream GROUP BY ROLLUP(a, b)")
    assert(r.groupStyle == "rollup")
    assert(r.groupBy == List(Ident.simple("a"), Ident.simple("b")))
    val c = Parser.parse("SELECT a, count(*) AS c FROM stream GROUP BY CUBE(a)")
    assert(c.groupStyle == "cube")
    assert(Parser.parse("SELECT a, count(*) AS c FROM stream GROUP BY a").groupStyle == "plain")
  }

  test("counting window with WHEN gating") {
    val q = Parser.parse(
      "SELECT avg(temp) AS m FROM stream GROUP BY CountingWindow(2) OVER (WHEN x > 0)")
    q.window match {
      case Some(CountingWindow(2, Some(BinOp(">", _, _)))) => ()
      case other => fail(s"got $other")
    }
  }

  test("joins with aliases and multi-key ON") {
    val q = Parser.parse(
      "SELECT deviceId, m.location FROM stream LEFT JOIN meta m " +
        "ON deviceId = m.deviceId AND tenant = m.tenant")
    assert(q.joins.size == 1)
    val j = q.joins.head
    assert(j.joinType == "left_outer" && j.table == "meta" && j.alias.contains("m"))
  }

  test("analytic with OVER PARTITION BY and WHEN") {
    val q = Parser.parse(
      "SELECT lag(temp) OVER (PARTITION BY deviceId WHEN temp > 0) AS p FROM stream")
    val fc = q.items.head.expr.asInstanceOf[FuncCall]
    assert(fc.lname == "lag")
    assert(fc.over.get.partitionBy == List(Ident.simple("deviceId")))
    assert(fc.over.get.when.isDefined)
  }

  test("case when, like, between, in, is null") {
    val q = Parser.parse(
      "SELECT CASE WHEN t > 30 THEN 'hot' ELSE 'cold' END AS lbl FROM stream " +
        "WHERE name LIKE 'a%' AND v BETWEEN 1 AND 5 AND k IN ('x','y') AND u IS NOT NULL")
    assert(q.items.head.expr.isInstanceOf[CaseWhen])
    assert(q.where.isDefined)
  }

  test("having with alias, order by desc, limit") {
    val q = Parser.parse(
      "SELECT deviceId, avg(t) AS a FROM stream GROUP BY deviceId " +
        "HAVING a > 5 ORDER BY a DESC, deviceId LIMIT 10")
    assert(q.having.isDefined)
    assert(q.orderBy == List(OrderItem(Ident.simple("a"), asc = false),
      OrderItem(Ident.simple("deviceId"), asc = true)))
    assert(q.limit.contains(10))
  }

  test("nested paths and array indexes") {
    val q = Parser.parse("SELECT device.info.name AS name, sensors[0].value AS v0 FROM stream")
    assert(q.items.head.expr == Ident(List(Ident.Seg("device"), Ident.Seg("info"), Ident.Seg("name"))))
    assert(q.items(1).expr ==
      Ident(List(Ident.Seg("sensors", List(Ident.IntIdx(0))), Ident.Seg("value"))))
  }

  test("negative indexes, map keys and chained subscripts") {
    val q = Parser.parse(
      "SELECT readings[-1] AS last, config['host'] AS h, m.grid[2][1] AS g FROM stream")
    assert(q.items.head.expr == Ident(List(Ident.Seg("readings", List(Ident.IntIdx(-1))))))
    assert(q.items(1).expr == Ident(List(Ident.Seg("config", List(Ident.KeyIdx("host"))))))
    assert(q.items(2).expr == Ident(List(Ident.Seg("m"),
      Ident.Seg("grid", List(Ident.IntIdx(2), Ident.IntIdx(1))))))
  }

  test("distinct and unnest") {
    assert(Parser.parse("SELECT DISTINCT c FROM stream").distinct)
    val q = Parser.parse("SELECT id, unnest(tags) AS tag FROM stream")
    assert(q.items(1).expr.asInstanceOf[FuncCall].lname == "unnest")
  }

  test("match_recognize full clause") {
    val q = Parser.parse(
      "SELECT * FROM stream MATCH_RECOGNIZE ( PARTITION BY deviceId ORDER BY ts " +
        "MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS hits, LAST(A.temp) AS peak " +
        "ONE ROW PER MATCH PATTERN (A{3}) WITHIN '1h' DEFINE A AS temp > 80 )")
    val mr = q.matchRecognize.get
    assert(mr.partitionBy == List(Ident.simple("deviceId")))
    assert(mr.measures.size == 3)
    assert(!mr.allRows)
    assert(mr.withinMs == 3600000)
    assert(mr.pattern.contains(Pattern.Quant(Pattern.Sym("A"), 3, 3, greedy = true)))
    assert(mr.defines.contains("A"))
  }

  test("match_recognize permute and subset") {
    val q = Parser.parse(
      "SELECT sv FROM stream MATCH_RECOGNIZE ( ORDER BY ts MEASURES SUM(S.v) AS sv " +
        "ONE ROW PER MATCH PATTERN (A B+) SUBSET S = (A, B) WITHIN '1h' " +
        "DEFINE A AS k == 1, B AS k == 2 )")
    val mr = q.matchRecognize.get
    assert(mr.subsets == Map("S" -> List("A", "B")))
    assert(mr.defines.size == 2)
  }

  test("expression-wrapped analytics") {
    val q = Parser.parse("SELECT ts - lag(ts) OVER (PARTITION BY k) AS d FROM stream")
    q.items.head.expr match {
      case BinOp("-", Ident(_), FuncCall("lag", _, Some(_), _)) => ()
      case other => fail(s"got $other")
    }
  }

  test("durations") {
    assert(Durations.toMillis("5s") == 5000)
    assert(Durations.toMillis("100ms") == 100)
    assert(Durations.toMillis("1h30m") == 5400000)
    assert(Durations.toMillis("2d") == 172800000)
    assert(Durations.toMillis("1.5s") == 1500)
  }

  test("backtick identifiers and string escapes") {
    val q = Parser.parse("SELECT `weird col` AS w FROM stream WHERE name = 'it''s'")
    assert(q.items.head.expr == Ident.simple("weird col"))
  }

  test("rejects bad input") {
    assertThrows[ParseException](Parser.parse("SELECT FROM stream"))
    assertThrows[ParseException](Parser.parse("SELECT a FROM stream LIMIT -1"))
  }
  test("set-operation statements compose SELECTs") {
    val st = Parser.parseStatement(
      "SELECT a FROM stream WHERE a > 1 UNION ALL SELECT a FROM stream " +
        "EXCEPT SELECT a FROM stream WHERE a < 0")
    assert(st.ops.map(p => (p.op, p.all)) == List(("UNION", true), ("EXCEPT", false)))
    assert(st.head.where.isDefined && st.ops(1).q.where.isDefined)
  }

}
