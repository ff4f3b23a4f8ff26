package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.spec.Config
import graft.transforms._

/** Per-operator unit tests. The employee fixture mirrors the
  * reference's (reference test_data_pipeline.py:15-19 — all values
  * strings, as the reference's CSV source produces).
  */
class TransformsSpec extends SparkSuite {
  import spark.implicits._

  private def employees = Seq(
    ("Alice", "30", "eng"),
    ("Bob", "25", "eng"),
    ("Carol", "35", "pm")).toDF("name", "age", "dept")

  test("filter eq (reference test :24-27)") {
    val out = FilterOp(employees, Config.of("field" -> "dept", "op" -> "eq", "value" -> "eng"))
    assert(out.select("name").as[String].collect().toSet == Set("Alice", "Bob"))
  }

  test("filter ops: ne/gt/contains/notnull/in/between") {
    val df = Seq(("a", 1, "x y"), ("b", 5, ""), ("c", 10, "zz")).toDF("k", "v", "s")
    assert(FilterOp(df, Config.of("field" -> "k", "op" -> "ne", "value" -> "a")).count() == 2)
    assert(FilterOp(df, Config.of("field" -> "v", "op" -> "gt", "value" -> 4)).count() == 2)
    assert(FilterOp(df, Config.of("field" -> "s", "op" -> "contains", "value" -> "y")).count() == 1)
    // notnull on strings drops empty string too (reference main.py:201 semantics)
    assert(FilterOp(df, Config.of("field" -> "s", "op" -> "notnull")).count() == 2)
    assert(FilterOp(df, Config.of("field" -> "k", "op" -> "in",
      "value" -> Seq("a", "c"))).count() == 2)
    assert(FilterOp(df, Config.of("field" -> "v", "op" -> "between",
      "low" -> 2, "high" -> 10)).count() == 2)
    assertThrows[GraftAnalysisException](
      FilterOp(df, Config.of("field" -> "v", "op" -> "frob", "value" -> 1)))
  }

  test("map upper (reference test :29-32) and try-cast semantics") {
    val up = MapOp(employees, Config.of("field" -> "name", "operation" -> "upper"))
    assert(up.select("name").as[String].collect().toSet == Set("ALICE", "BOB", "CAROL"))
    // cast "30" -> 30; uncastable -> null (typed mode)
    val mixed = Seq(Tuple1("1"), Tuple1("x")).toDF("v")
    val cast = MapOp(mixed, Config.of("field" -> "v", "operation" -> "int"))
    assert(cast.select("v").as[Option[Long]].collect().toSet == Set(Some(1L), None))
    // keep_original mode: uncastable values pass through (reference main.py:219-222)
    val keep = MapOp(mixed, Config.of("field" -> "v", "operation" -> "int", "keep_original" -> true))
    assert(keep.select("v").as[String].collect().toSet == Set("1", "x"))
  }

  test("aggregate count/sum/avg/min/max incl. reference naming") {
    // reference shape: single {field, function} -> column {field}_{fn}
    val out = AggregateOp(employees,
      Config.of("group_by" -> Seq("dept"), "field" -> "age", "function" -> "count"))
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("eng" -> 2, "pm" -> 1))
    // multi-agg with exact decimal
    val li = sf("lineitem")
    val agg = AggregateOp(li, Config.of(
      "group_by" -> Seq("l_returnflag"),
      "aggregations" -> Seq(
        Map("function" -> "count", "as" -> "cnt"),
        Map("field" -> "l_quantity", "function" -> "sum", "exact_decimal" -> 6, "as" -> "sq"),
        Map("field" -> "l_quantity", "function" -> "avg", "exact_decimal" -> 6, "as" -> "aq"))))
    assert(agg.columns.toSeq == Seq("l_returnflag", "cnt", "sq", "aq"))
    assert(agg.count() == 3)
  }

  test("join inner with r_ prefix and last-wins right dedup") {
    val left = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val right = Seq((1, "x", 10), (1, "y", 20), (2, "z", 30)).toDF("id", "w", "ord")
    val out = JoinOp(left, right, Config.of(
      "left_key" -> "id", "right_key" -> "id",
      "right_dedup" -> "last", "right_order" -> "ord"))
    // inner: id=3 dropped; dup right id=1: last by ord wins ("y")
    val rows = out.select("id", "v", "r_w").as[(Int, String, String)].collect().toSet
    assert(rows == Set((1, "a", "y"), (2, "b", "z")))
    assert(out.columns.toSet == Set("id", "v", "r_id", "r_w", "r_ord"))
    // a NULL right_order loses in both directions; rows tied on the
    // winning right_order are all kept, so each one joins
    val right2 = Seq((1, "x", Option(10)), (1, "n", None: Option[Int]),
      (2, "t1", Option(5)), (2, "t2", Option(5)), (2, "lo", Option(1)))
      .toDF("id", "w", "ord")
    for ((keep, expect) <- Seq(
        "first" -> Set((1, "x"), (2, "lo")),
        "last" -> Set((1, "x"), (2, "t1"), (2, "t2")))) {
      val got = JoinOp(left, right2, Config.of("left_key" -> "id", "right_key" -> "id",
        "right_dedup" -> keep, "right_order" -> "ord"))
        .select("id", "r_w").as[(Int, String)].collect().toSet
      assert(got == expect, s"right_dedup=$keep")
    }
  }

  test("sort: stable multi-column with limit -> top-k") {
    val df = Seq((1, "b"), (3, "a"), (2, "c"), (3, "b")).toDF("n", "s")
    val out = SortOp(df, Config.of("columns" -> Seq(
      Map("field" -> "n", "descending" -> true),
      Map("field" -> "s", "descending" -> false)), "limit" -> 2))
    assert(out.as[(Int, String)].collect().toSeq == Seq((3, "a"), (3, "b")))
  }

  test("deduplicate keep-first by order column (reference test :46-50)") {
    val df = Seq(("Alice", 1), ("Bob", 2), ("Alice", 3)).toDF("name", "ord")
    val out = DedupOp(df, Config.of("keys" -> Seq("name"), "keep" -> "first", "order_by" -> Seq("ord")))
    assert(out.as[(String, Int)].collect().toSet == Set(("Alice", 1), ("Bob", 2)))
    // keep=any: arbitrary row but exact key set
    val any = DedupOp(df, Config.of("keys" -> Seq("name")))
    assert(any.select("name").as[String].collect().toSet == Set("Alice", "Bob"))
    // first and last by a lexicographic multi-column order
    val multi = Seq(("a", 1, 1, "r1"), ("a", 1, 0, "r2"), ("a", 0, 9, "r3"), ("b", 2, 2, "r4"))
      .toDF("k", "o1", "o2", "v")
    for (keep <- Seq("first", "last")) {
      val expect = Set(if (keep == "first") ("a", "r3") else ("a", "r1"), ("b", "r4"))
      val got = DedupOp(multi, Config.of("keys" -> Seq("k"), "keep" -> keep,
        "order_by" -> Seq("o1", "o2")))
        .select("k", "v").as[(String, String)].collect().toSet
      assert(got == expect, s"keep=$keep")
    }
  }

  test("deduplicate keeps rows with NULL keys / NULL order values (ADVICE r3)") {
    // NULL key rows form their own group; a NULL order value loses to
    // any real one; a group with no real order value keeps every row.
    val df = Seq(
      (Option("a"), Option(2), "r1"), (Option("a"), Option(1), "r2"),
      (None: Option[String], Option(5), "r3"), (None: Option[String], Option(7), "r4"),
      (Option("b"), None: Option[Int], "r5"),
      (Option("c"), None: Option[Int], "r6"), (Option("c"), Option(9), "r7"),
      (Option("c"), None: Option[Int], "r8"))
      .toDF("k", "ord", "v")
    val got = DedupOp(df, Config.of("keys" -> Seq("k"), "keep" -> "first",
      "order_by" -> Seq("ord")))
      .select("v").as[String].collect().toSet
    assert(got == Set("r2", "r3", "r5", "r7"))
    // multi-column order: a NULL field loses there too, first and last
    // alike (a struct minimum would rank {1, NULL} first and keep m1)
    val multi = Seq(
      ("a", Option(1), None: Option[Int], "m1"), ("a", Option(1), Option(5), "m2"),
      ("b", None: Option[Int], None: Option[Int], "m3"), ("b", None: Option[Int], Option(4), "m4"),
      ("b", None: Option[Int], None: Option[Int], "m5"),
      ("c", None: Option[Int], None: Option[Int], "m6"), ("c", None: Option[Int], None: Option[Int], "m7"))
      .toDF("k", "o1", "o2", "v")
    for (keep <- Seq("first", "last")) {
      val kept = DedupOp(multi, Config.of("keys" -> Seq("k"), "keep" -> keep,
        "order_by" -> Seq("o1", "o2")))
        .select("v").as[String].collect().toSet
      assert(kept == Set("m2", "m4", "m6", "m7"), s"keep=$keep")
    }
  }

  test("select + rename with collision error (SURVEY §2.5 deviation d)") {
    val out = RenameOp(
      SelectOp(employees, Config.of("fields" -> Seq("name", "dept"))),
      Config.of("mapping" -> Map("dept" -> "team")))
    assert(out.columns.toSeq == Seq("name", "team"))
    assertThrows[GraftAnalysisException](
      RenameOp(employees, Config.of("mapping" -> Map("age" -> "name"))))
    assertThrows[GraftAnalysisException](
      RenameOp(employees, Config.of("mapping" -> Map("ghost" -> "x"))))
  }

  test("union by name null-fills missing columns (reference main.py:437-443)") {
    val a = Seq((1, "x")).toDF("id", "only_a")
    val b = Seq((2, 9.5)).toDF("id", "only_b")
    val out = Transforms(a, graft.spec.TransformSpec("u", "union",
      Config.of("inputs" -> Seq("b"))), Map("b" -> b))
    assert(out.columns.toSet == Set("id", "only_a", "only_b"))
    val row = out.where($"id" === 2).collect().head
    assert(row.getAs[String]("only_a") == null)
  }

  test("window row_number + running sum frame") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)).toDF("k", "seq", "v")
    val out = WindowOp(df, Config.of(
      "partition_by" -> Seq("k"),
      "order_by" -> Seq(Map("field" -> "seq")),
      "functions" -> Seq(
        Map("function" -> "row_number", "as" -> "rn"),
        Map("function" -> "sum", "field" -> "v", "frame" -> "running", "as" -> "rsum"))))
    val rows = out.select("k", "seq", "rn", "rsum").as[(String, Int, Long, Double)].collect().toSet
    assert(rows == Set(("a", 1, 1L, 10.0), ("a", 2, 2L, 30.0), ("b", 1, 1L, 5.0)))
  }

  test("limit and sql escape hatch") {
    assert(LimitOp(employees, Config.of("n" -> 2)).count() == 2)
    val out = SqlOp(employees, Config.of(
      "query" -> "SELECT dept, count(*) AS n FROM _input GROUP BY dept"), Map.empty)
    assert(out.count() == 2)
  }

  test("join with composite keys") {
    val left = Seq((1, "a", 10), (1, "b", 20), (2, "a", 30)).toDF("k1", "k2", "v")
    val right = Seq((1, "a", "x"), (2, "a", "y")).toDF("k1", "k2", "w")
    val out = JoinOp(left, right, Config.of(
      "left_keys" -> Seq("k1", "k2"), "right_keys" -> Seq("k1", "k2")))
    assert(out.select("v", "r_w").as[(Int, String)].collect().toSet == Set((10, "x"), (30, "y")))
    assertThrows[GraftAnalysisException](JoinOp(left, right, Config.of(
      "left_keys" -> Seq("k1", "k2"), "right_keys" -> Seq("k1"))))
  }

  test("intersect / except / distinct set ops") {
    val a = Seq(1, 2, 2, 3).toDF("v")
    val b = Seq(2, 3, 4).toDF("v")
    def setOp(kind: String) = Transforms(a,
      graft.spec.TransformSpec("s", kind, Config.of("other" -> "b")), Map("b" -> b))
    assert(setOp("intersect").as[Int].collect().toSet == Set(2, 3))
    assert(setOp("except").as[Int].collect().toSet == Set(1))
    assert(Transforms(a, graft.spec.TransformSpec("d", "distinct"), Map.empty).count() == 3)
  }

  test("deterministic sampling and splits are stable and partition-independent") {
    val df = sf("documents")
    val s1 = SampleOp(df, Config.of("key" -> "doc_id", "mod" -> 10, "below" -> 3))
    val s2 = SampleOp(df.repartition(7), Config.of("key" -> "doc_id", "mod" -> 10, "below" -> 3))
    assert(s1.select("doc_id").as[Long].collect().sorted
      sameElements s2.select("doc_id").as[Long].collect().sorted)
    val split = SplitOp(df, Config.of("key" -> "doc_id", "mod" -> 100,
      "train_below" -> 80, "val_below" -> 90))
    val counts = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == df.count())
    // roughly proportional (hash uniformity)
    assert(counts("train") > counts("test"))
  }

  test("profiler: one-pass per-column stats") {
    val df = Seq((1, "a"), (2, "b"), (3, null)).toDF("id", "s")
    val p = graft.ops.Profile.stats(df, Seq("id", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("id").getAs[Long]("n_rows") == 3)
    assert(p("id").getAs[Long]("n_nulls") == 0)
    assert(p("s").getAs[Long]("n_nulls") == 1)
    assert(p("s").getAs[Long]("n_distinct") == 2)
    assert(p("id").getAs[String]("min_value") == "1")
    assert(p("id").getAs[String]("max_value") == "3")
  }

  test("extension transforms are spec-addressable (dedup_exact, text_profile, sample)") {
    val docs = Seq((1L, "hello world one"), (2L, "hello world one"), (3L, "different"))
      .toDF("doc_id", "text")
    val deduped = Transforms(docs, graft.spec.TransformSpec("d", "dedup_exact",
      Config.of("tie_break" -> "doc_id")), Map.empty)
    assert(deduped.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    val profiled = Transforms(docs, graft.spec.TransformSpec("p", "text_profile"), Map.empty)
    assert(profiled.columns.contains("quality_score"))
    assert(Transforms(docs, graft.spec.TransformSpec("s", "sample",
      Config.of("key" -> "doc_id", "mod" -> 2, "below" -> 2)), Map.empty).count() <= 3)
  }

  test("pivot spreads declared values into columns; explode fans out arrays") {
    val df = Seq(("a", "x", 1), ("a", "y", 2), ("b", "x", 3)).toDF("k", "p", "v")
    val piv = PivotOp(df, Config.of(
      "group_by" -> Seq("k"), "pivot" -> "p", "values" -> Seq("x", "y"),
      "aggregations" -> Seq(Map("field" -> "v", "function" -> "sum", "as" -> "sv"))))
    assert(piv.columns.toSeq == Seq("k", "x", "y"))
    val row = piv.where($"k" === "a").collect().head
    assert(row.getAs[Long]("x") == 1L && row.getAs[Long]("y") == 2L)
    assertThrows[GraftAnalysisException](
      PivotOp(df, Config.of("group_by" -> Seq("k"), "pivot" -> "p")))

    val arr = Seq((1, Seq("a", "b"))).toDF("id", "xs")
    val ex = ExplodeOp(arr, Config.of("field" -> "xs", "as" -> "x", "with_position" -> true))
    assert(ex.select("x_pos", "x_value").as[(Int, String)].collect().toSet ==
      Set((0, "a"), (1, "b")))
  }

  test("join hints: merge/shuffle_hash accepted, bogus rejected") {
    val left = Seq((1, "a")).toDF("id", "v")
    val right = Seq((1, "x")).toDF("id", "w")
    Seq("merge", "shuffle_hash").foreach { h =>
      val out = JoinOp(left, right, Config.of("left_key" -> "id", "right_key" -> "id", "hint" -> h))
      assert(out.count() == 1)
    }
    assertThrows[GraftAnalysisException](JoinOp(left, right, Config.of(
      "left_key" -> "id", "right_key" -> "id", "hint" -> "nested_loop_xl")))
  }

  test("repartition/coalesce control physical layout without changing data") {
    val df = employees
    val rep = Transforms(df, graft.spec.TransformSpec("r", "repartition",
      Config.of("n" -> 3, "by" -> Seq("dept"))), Map.empty)
    assert(rep.rdd.getNumPartitions == 3)
    assert(rep.count() == 3)
    val co = Transforms(rep, graft.spec.TransformSpec("c", "coalesce",
      Config.of("n" -> 1)), Map.empty)
    assert(co.rdd.getNumPartitions == 1)
    assertThrows[GraftAnalysisException](
      Transforms(df, graft.spec.TransformSpec("r", "repartition", Config.of()), Map.empty))
  }

  test("asof_join / range_join spec dispatch (round-2 shipped this wiring uncompiled)") {
    val trades = Seq((1L, 100L, "t1"), (1L, 205L, "t2"), (2L, 50L, "t3"))
      .toDF("user_id", "ts", "trade")
    val quotes = Seq((1L, 90L, 10.0, 1L), (1L, 200L, 11.0, 2L), (2L, 60L, 5.0, 3L))
      .toDF("user_id", "qts", "px", "qid")
    val ctx: Transforms.Ctx = Map("quotes" -> quotes)

    val asof = Transforms(trades, graft.spec.TransformSpec("a", "asof_join", Config.of(
      "right" -> "quotes", "left_keys" -> Seq("user_id"), "right_keys" -> Seq("user_id"),
      "left_time" -> "ts", "right_time" -> "qts", "payload" -> Seq("px"),
      "tie_break" -> "qid")), ctx)
    val m = asof.select("trade", "asof_px").as[(String, Option[Double])].collect().toMap
    assert(m == Map("t1" -> Some(10.0), "t2" -> Some(11.0), "t3" -> None)) // qts=60 > 50

    // lower/upper exercise Config.long/reqLong (the round-2 compile break)
    val rj = Transforms(trades, graft.spec.TransformSpec("r", "range_join", Config.of(
      "right" -> "quotes", "left_keys" -> Seq("user_id"), "right_keys" -> Seq("user_id"),
      "left_time" -> "ts", "right_time" -> "qts",
      "lower" -> -20, "upper" -> 110)), ctx)
    // t1@100→[80,210]: qts 90,200; t2@205→[185,315]: 200; t3@50→[30,160]: 60
    assert(rj.count() == 4)
    assertThrows[GraftAnalysisException](  // missing required 'upper'
      Transforms(trades, graft.spec.TransformSpec("r", "range_join", Config.of(
        "right" -> "quotes", "left_keys" -> Seq("user_id"), "right_keys" -> Seq("user_id"),
        "left_time" -> "ts", "right_time" -> "qts")), ctx))
  }

  test("hierarchical rollup/cube matches Spark's Expand plan row-for-row") {
    // real NULL key values must stay distinguishable work-wise from
    // grouping-set placeholder nulls (both plans treat them the same)
    val df = Seq(("A", "x", 1.0), ("A", "y", 2.0), (null, "x", 3.0),
      ("B", null, 4.0), ("A", "x", 5.0)).toDF("k1", "k2", "v")
    val aggs = Seq(
      Map("function" -> "count", "as" -> "cnt"),
      Map("field" -> "v", "function" -> "sum", "exact_decimal" -> 6, "as" -> "sv"),
      Map("field" -> "v", "function" -> "avg", "exact_decimal" -> 6, "as" -> "av"),
      Map("field" -> "v", "function" -> "max", "as" -> "mx"))
    for (g <- Seq("rollup", "cube")) {
      val ours = AggregateOp(df, Config.of(
        "group_by" -> Seq("k1", "k2"), "grouping" -> g, "aggregations" -> aggs))
      val native = (if (g == "cube") df.cube(col("k1"), col("k2")) else df.rollup(col("k1"), col("k2")))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(col("v").cast("decimal(18,6)")).cast("double").as("sv"),
          (sum(col("v").cast("decimal(18,6)")).cast("double") / count(col("v"))).cast("double").as("av"),
          max(col("v")).as("mx"))
      val a = ours.collect().map(_.toString).sorted.toSeq
      val b = native.collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$g mismatch:\nours:   $a\nnative: $b")
      // no Expand node: input rows are never multiplied by |sets|
      assert(!ours.queryExecution.executedPlan.toString.contains("Expand"))
    }
    // empty input: grouping sets yield zero rows, not a spurious global row
    val empty = AggregateOp(df.where(lit(false)), Config.of(
      "group_by" -> Seq("k1", "k2"), "grouping" -> "cube", "aggregations" -> aggs))
    assert(empty.count() == 0)
    // non-decomposable agg (count_distinct) falls back to the native plan
    val fb = AggregateOp(df, Config.of(
      "group_by" -> Seq("k1"), "grouping" -> "cube", "aggregations" -> Seq(
        Map("field" -> "k2", "function" -> "count_distinct", "as" -> "d"))))
    assert(fb.queryExecution.executedPlan.toString.contains("Expand"))
    assert(fb.count() == 4) // A, B, null, global
  }

  test("§2.6 extension ops are spec-addressable end to end") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val sh = Transforms(docs, graft.spec.TransformSpec("d", "dedup_simhash",
      Config.of("id_field" -> "doc_id")), Map.empty)
    assert(sh.select("a_id", "b_id").as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    val lang = Transforms(docs, graft.spec.TransformSpec("l", "text_lang", Config.of()), Map.empty)
    assert(lang.columns.contains("lang_id") && lang.count() == 3)

    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ed = Transforms(vecs, graft.spec.TransformSpec("e", "dedup_embed",
      Config.of("id_field" -> "vec_id", "threshold" -> 0.99, "planes" -> 2)), Map.empty)
    assert(ed.select("a_id", "b_id").as[(Long, Long)].collect().toSet == Set((0L, 1L)))
    val ann = Transforms(vecs, graft.spec.TransformSpec("a", "ann_topk",
      Config.of("queries" -> "q", "k" -> 2)), Map("q" -> vecs.where(col("vec_id") === 0)))
    assert(ann.where(col("rank") === 1).select("neighbor_id").as[Long].head() == 1L)
    val annPq = Transforms(vecs, graft.spec.TransformSpec("a2", "ann_topk",
      Config.of("queries" -> "q", "k" -> 2, "method" -> "pq", "dim" -> 2, "m" -> 1, "ksub" -> 2)),
      Map("q" -> vecs.where(col("vec_id") === 0)))
    assert(annPq.count() <= 2 && annPq.columns.contains("cosine"))

    val evalDocs = Seq((100L, "alpha beta gamma delta"),
      (101L, "nothing shared with training")).toDF("doc_id", "text")
    val contam = Transforms(evalDocs, graft.spec.TransformSpec("c", "contamination",
      Config.of("against" -> "train", "id_field" -> "doc_id", "threshold" -> 0.5)),
      Map("train" -> docs))
    assert(contam.select("left_id", "right_id").as[(Long, Long)].collect().toSet
      == Set((100L, 1L), (100L, 2L)))

    val packed = Transforms(docs, graft.spec.TransformSpec("p", "multimodal_pack",
      Config.of()), Map.empty)
    assert(packed.select("media.meta.byte_len").as[Long].collect().forall(_ > 0))
    val feats = Transforms(packed, graft.spec.TransformSpec("f", "multimodal_features",
      Config.of("id_field" -> "doc_id")), Map.empty)
    assert(feats.columns.toSeq == Seq("id", "byte_len", "features") && feats.count() == 3)
    val rs = Transforms(packed, graft.spec.TransformSpec("r", "multimodal_resize",
      Config.of("id_field" -> "doc_id", "width" -> 8, "height" -> 8)), Map.empty)
    assert(rs.select("byte_len").as[Long].collect().forall(_ == 8L)) // 8*8/8
    val fr = Transforms(packed, graft.spec.TransformSpec("v", "multimodal_frames",
      Config.of("id_field" -> "doc_id", "n_frames" -> 4, "stride" -> 2)), Map.empty)
    assert(fr.groupBy("id").count().select(max("count")).as[Long].head() == 2L) // frames 0,2
    // real header codec over text payloads: recognized as NOT images
    val meta = Transforms(packed, graft.spec.TransformSpec("im", "image_meta",
      Config.of("id_field" -> "doc_id")), Map.empty)
    assert(meta.columns.toSeq ==
      Seq("id", "byte_len", "mime_detected", "width", "height") && meta.count() == 3)
    assert(meta.where(col("mime_detected").isNull).count() == 3)
    // audio twin: text payloads aren't WAVs either
    val ameta = Transforms(packed, graft.spec.TransformSpec("am", "audio_meta",
      Config.of("id_field" -> "doc_id")), Map.empty)
    assert(ameta.columns.toSeq ==
      Seq("id", "byte_len", "mime_detected", "channels", "sample_rate", "duration_ms"))
    assert(ameta.where(col("mime_detected").isNull).count() == 3)
    // real pixel decode through the spec surface: PNG payloads decode,
    // the png codec option resizes real pixels
    val pngMedia = graft.ops.Multimodal.packTextPng(docs, "doc_id", "text", width = 8)
    val px = Transforms(pngMedia, graft.spec.TransformSpec("ip", "image_pixels",
      Config.of("id_field" -> "id")), Map.empty)
    assert(px.where(col("pixel_hash").isNotNull).count() == 3)
    assert(px.select("channels").as[Int].collect().forall(_ == 1))
    val rsPng = Transforms(pngMedia, graft.spec.TransformSpec("rp", "multimodal_resize",
      Config.of("id_field" -> "id", "width" -> 4, "height" -> 4, "codec" -> "png")), Map.empty)
    val outPng = rsPng.select("payload").as[Array[Byte]].head()
    assert(graft.ops.PngCodec.decode(outPng).exists(i => i.width == 4 && i.height == 4))
    intercept[GraftAnalysisException] {
      Transforms(pngMedia, graft.spec.TransformSpec("rx", "multimodal_resize",
        Config.of("id_field" -> "id", "codec" -> "webp")), Map.empty)
    }
  }

  test("pack_sequences spec op: strategy greedy | bfd, unknown rejected") {
    val df = Seq((1L, "g", "a b c d e f g h"), (2L, "g", "a b c d e f g"),
      (3L, "g", "a b c d e"), (4L, "g", "a b c")).toDF("doc_id", "source", "text")
    def run(strategy: String) = Transforms(df, graft.spec.TransformSpec("p", "pack_sequences",
      Config.of("id_field" -> "doc_id", "group_field" -> "source",
        "capacity" -> 10, "strategy" -> strategy)), Map.empty)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    // greedy in id order: 8 | 7 | 5+3
    assert(run("greedy") == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
    // bfd: 8 | 7+3 (tightest fit) | 5
    assert(run("bfd") == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    intercept[GraftAnalysisException] { run("tetris") }
  }

  test("token_budget: budget inclusive, never overshoots, partition-invariant, per-class") {
    val df = (1 to 20).map(i => (i.toLong, if (i <= 10) "a" else "b",
      Seq.fill(5)("w").mkString(" "))).toDF("doc_id", "source", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Transforms(d, graft.spec.TransformSpec("tb", "token_budget",
        Config.of("key" -> "doc_id", "class_field" -> "source",
          "budgets" -> Map("a" -> 23), "default_budget" -> 10)), Map.empty)
        .select("doc_id", "source", "n_tokens")
        .as[(Long, String, Long)].collect().toSet
    val out = run(df)
    // 5-token docs: budget 23 → 4 docs (20 tokens; a 5th would hit 25);
    // class b budget 10 → 2 docs
    assert(out.count(_._2 == "a") == 4 && out.count(_._2 == "b") == 2)
    // deterministic + partition-invariant: same epoch at any layout
    assert(run(df.repartition(7)) == out)
    // zero default drops unlisted classes entirely
    val strict = Transforms(df, graft.spec.TransformSpec("tb", "token_budget",
      Config.of("key" -> "doc_id", "class_field" -> "source",
        "budgets" -> Map("a" -> 23))), Map.empty)
    assert(strict.where(col("source") === "b").count() == 0)
    intercept[GraftAnalysisException] {
      Transforms(df, graft.spec.TransformSpec("tb", "token_budget",
        Config.of("key" -> "doc_id", "class_field" -> "source")), Map.empty)
    }
  }

  test("text_bigram_ppx spec op: frequent-context docs score lower NLL") {
    val docs = (1 to 20).map(i => (i.toLong, "the quick brown fox jumps")) :+
      (99L, "zyx wvu tsr qpo nml")
    val df = docs.toDF("doc_id", "text")
    val out = Transforms(df, graft.spec.TransformSpec("b", "text_bigram_ppx",
      Config.of("id_field" -> "doc_id")), Map.empty)
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(out(1L) < out(99L), s"common-phrase doc should score lower NLL: $out")
  }

  test("text_trigram_ppx spec op: custom lambdas thread through; weights must sum to 1") {
    val docs = (1 to 20).map(i => (i.toLong, "the quick brown fox jumps")) :+
      (99L, "zyx wvu tsr qpo nml")
    val df = docs.toDF("doc_id", "text")
    val out = Transforms(df, graft.spec.TransformSpec("t", "text_trigram_ppx",
      Config.of("id_field" -> "doc_id", "l3" -> 0.6, "l2" -> 0.3, "l1" -> 0.1)), Map.empty)
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(out(1L) < out(99L), s"common-phrase doc should score lower NLL: $out")
    intercept[IllegalArgumentException] {
      Transforms(df, graft.spec.TransformSpec("t", "text_trigram_ppx",
        Config.of("id_field" -> "doc_id", "l3" -> 0.9)), Map.empty)
    }
  }

  test("ann_topk spec op: index_path reopens a persisted index instead of re-clustering") {
    val rnd = new scala.util.Random(19)
    val vecs = Seq.tabulate(80)(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() - 0.5).toFloat))).toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 2)
    val dir = java.nio.file.Files.createTempDirectory("graftannix").toString
    val ivf = graft.ops.Similarity.IvfIndex.build(vecs, "vec_id", "embedding", dim = 8, nlist = 4)
    ivf.save(s"$dir/ivf")
    val viaSpec = Transforms(vecs, graft.spec.TransformSpec("a", "ann_topk",
      Config.of("queries" -> "q", "k" -> 3, "method" -> "ivf",
        "index_path" -> s"$dir/ivf", "nprobe" -> 4)), Map("q" -> q))
      .as[(Long, Long, Double, Long)].collect().toSet
    val direct = ivf.search(q, "vec_id", "embedding", k = 3, nprobe = 4)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaSpec == direct && viaSpec.nonEmpty)
    val ivfpq = graft.ops.Pq.IvfPq.build(vecs, "vec_id", "embedding", dim = 8,
      nlist = 4, m = 2, ksub = 8, residual = true)
    graft.ops.Pq.IvfPq.save(ivfpq, s"$dir/ivfpq")
    val viaSpec2 = Transforms(vecs, graft.spec.TransformSpec("a2", "ann_topk",
      Config.of("queries" -> "q", "k" -> 3, "method" -> "ivfpq",
        "index_path" -> s"$dir/ivfpq", "nprobe" -> 4)), Map("q" -> q))
      .as[(Long, Long, Double, Long)].collect().toSet
    val direct2 = graft.ops.Pq.IvfPq.search(ivfpq, q, "vec_id", "embedding", k = 3, nprobe = 4)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaSpec2 == direct2 && viaSpec2.nonEmpty)
  }

  test("ann_topk spec op: ivfpq method composes build + residual search") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(60)(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() - 0.5).toFloat))).toDF("vec_id", "embedding")
    val ann = Transforms(vecs, graft.spec.TransformSpec("a", "ann_topk",
      Config.of("queries" -> "q", "k" -> 3, "method" -> "ivfpq",
        "dim" -> 8, "nlist" -> 4, "m" -> 2, "ksub" -> 8, "nprobe" -> 4)),
      Map("q" -> vecs.where(col("vec_id") < 2)))
    val rows = ann.select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall { case (q, n, r) => q != n && r >= 1 && r <= 3 })
    assert(ann.columns.contains("cosine"))
  }

  test("groups-family spec ops are addressable (dedup_groups, image_neardup_groups, embed_neardup_groups)") {
    // text: exact copies 1,2 group; 3 is alone
    val docs = Seq((1L, "hello world one two three"), (2L, "hello world one two three"),
      (3L, "a completely different body")).toDF("doc_id", "text")
    val tg = Transforms(docs, graft.spec.TransformSpec("g", "dedup_groups",
      Config.of("id_field" -> "doc_id", "threshold" -> 0.7)), Map.empty)
      .as[(Long, Long)].collect().toMap
    assert(tg == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // image: class-PNG pack (ids mod 3 share pixels) → pHash groups
    val imgs = graft.ops.Multimodal.packClassPng(
      (0L until 6L).toDF("doc_id"), "doc_id", classes = 3)
    val ig = Transforms(imgs, graft.spec.TransformSpec("g", "image_neardup_groups",
      Config.of("id_field" -> "id")), Map.empty)
      .as[(Long, Long)].collect().toMap
    assert(ig.size == 6 && (0L until 6L).forall(id => ig(id) == id % 3))
    // embeddings: parallel vectors group, orthogonal stays alone
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val eg = Transforms(vecs, graft.spec.TransformSpec("g", "embed_neardup_groups",
      Config.of("id_field" -> "vec_id", "threshold" -> 0.99, "planes" -> 2)), Map.empty)
      .as[(Long, Long)].collect().toMap
    assert(eg == Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }

  test("html_extract spec op strips markup into a text column") {
    val pages = Seq((1L, "<p>Hello &amp; welcome</p><script>x()</script>"))
      .toDF("doc_id", "html")
    val out = Transforms(pages, graft.spec.TransformSpec("e", "html_extract",
      Config.of("field" -> "html", "out_field" -> "text")), Map.empty)
    assert(out.columns.toSeq == Seq("doc_id", "html", "text"))
    assert(out.select("text").as[String].head() == "Hello & welcome")
  }

  test("fix_encoding spec op repairs mojibake in place") {
    val rows = Seq((1L, graft.expr.MojibakeKernel.garble("café — fine")))
      .toDF("doc_id", "text")
    val out = Transforms(rows, graft.spec.TransformSpec("f", "fix_encoding"), Map.empty)
    assert(out.select("text").as[String].head() == "café — fine")
  }

  test("domain_cap spec op filters rows beyond the per-host cap") {
    val rows = Seq(
      (1L, "https://a.com/1"), (2L, "https://a.com/2"), (3L, "https://a.com/3"),
      (4L, "https://b.com/1")
    ).toDF("doc_id", "url")
    val out = Transforms(rows, graft.spec.TransformSpec("d", "domain_cap",
      Config.of("field" -> "url", "max_per_host" -> 2)), Map.empty)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
  }

  test("bloom_check spec op flags keys seen in the against-source") {
    val seen = Seq("https://a.com/1", "https://a.com/2").toDF("url")
    val batch = Seq("https://a.com/1", "https://new.org/x").toDF("url")
    val out = Transforms(batch, graft.spec.TransformSpec("b", "bloom_check",
      Config.of("against" -> "crawled", "field" -> "url")), Map("crawled" -> seen))
    val flags = out.collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(flags("https://a.com/1"))
    assert(!flags("https://new.org/x"))
  }

  test("url_filter spec op: host/path/pattern rules drop or flag") {
    val rows = Seq(
      (1L, "https://sub.bad.com/x"), (2L, "https://ok.org/admin/panel"),
      (3L, "https://ok.org/page?track=1"), (4L, "https://ok.org/fine"),
      (5L, "no scheme here")
    ).toDF("doc_id", "url")
    val cfg = Config.of("block_hosts" -> Seq("bad.com"), "block_paths" -> Seq("/admin"),
      "block_patterns" -> Seq("track="))
    val dropped = Transforms(rows, graft.spec.TransformSpec("u", "url_filter", cfg), Map.empty)
    assert(dropped.select("doc_id").as[Long].collect().sorted.toSeq == Seq(4L, 5L))
    val flagged = Transforms(rows, graft.spec.TransformSpec("u", "url_filter",
      Config.of("block_hosts" -> Seq("bad.com"), "action" -> "flag")), Map.empty)
    val m = flagged.collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(m == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false, 5L -> false))
  }

  test("unknown transform type is an analysis error") {
    assertThrows[GraftAnalysisException](
      Transforms(employees, graft.spec.TransformSpec("t", "nope"), Map.empty))
  }

  test("an op run without validate refuses an undeclared source with validate's message") {
    for (op <- Transforms.ops; key <- op.sources) {
      val t = graft.spec.TransformSpec("t1", op.name, Config.of(key -> "ghost"))
      val e = intercept[GraftAnalysisException](Transforms(employees, t, Map.empty))
      assert(e.getMessage == Transforms.undeclaredSource(t, key, "ghost"), op.name)
    }
  }
}
