"""HTML table extraction (operators/tables.py): cell semantics
(attributes, case-insensitivity, nested-markup strip, empty cells,
th/td mix), decoy tags and caps discipline."""

from pyspark.sql import functions as F

from warcio_spark.operators.tables import (extract_code_blocks,
                                            extract_headings,
                                            extract_tables)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "page_url string, text string")


def test_extract_tables_cells_and_order(spark):
    html = (
        '<p>intro</p>'
        '<table class="x"><tr><td>a</td><TH id="h"> b </TH></tr>'
        '<TR><td><b>bold</b> tail</td><td></td><td>c</td></TR></table>'
        '<table><tr><td>second</td></tr></table>'
        '<tablex><tr><td>decoy</td></tr></tablex>'
    )
    out = (
        extract_tables(_pages(spark, [("u1", html)]))
        .orderBy("table_idx", "row_idx")
        .collect()
    )
    assert [(r.table_idx, r.row_idx, r.n_cells, r.cells) for r in out] == [
        (0, 0, 2, ["a", "b"]),          # attrs ok, TH uppercase, trimmed
        (0, 1, 3, ["bold tail", "", "c"]),  # nested tag stripped, empty cell
        (1, 0, 1, ["second"]),          # second table indexed separately
    ]
    # the <tablex> decoy must not contribute rows
    assert all(r.table_idx <= 1 for r in out)


def test_extract_tables_no_table_no_rows(spark):
    out = extract_tables(
        _pages(spark, [("u1", "<p>plain text, no tables at all</p>")])
    ).collect()
    assert out == []


def test_extract_tables_caps(spark):
    # 3 tables x 4 rows x 5 cells, capped to 2/2/3
    tbl = "<table>" + "".join(
        "<tr>" + "".join(f"<td>c{r}{c}</td>" for c in range(5)) + "</tr>"
        for r in range(4)
    ) + "</table>"
    html = tbl * 3
    out = extract_tables(
        _pages(spark, [("u1", html)]), max_tables=2, max_rows=2, max_cells=3
    ).collect()
    assert len(out) == 2 * 2  # 2 tables x 2 rows
    assert {r.table_idx for r in out} == {0, 1}
    assert {r.row_idx for r in out} == {0, 1}
    assert all(r.n_cells == 3 for r in out)
    assert all(r.cells == [f"c{r.row_idx}0", f"c{r.row_idx}1", f"c{r.row_idx}2"]
               for r in out)


def test_extract_tables_plan_no_shuffle(spark):
    """Bounded Generates over staged regexes — the plan must contain no
    Exchange (per-page work only, embarrassingly parallel at 10^10)."""
    df = extract_tables(_pages(spark, [("u", "<table></table>")]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_extract_headings_outline(spark):
    html = (
        '<h1 class="t">Main <b>Title</b></h1><p>x</p>'
        "<H2>Section</H2><h3 id=z> sub </h3><h7>not a heading</h7>"
    )
    out = extract_headings(_pages(spark, [("u", html)])).orderBy("pos").collect()
    assert [(r.pos, r.level, r.heading) for r in out] == [
        (0, 1, "Main Title"), (1, 2, "Section"), (2, 3, "sub")]


def test_extract_headings_cap(spark):
    html = "".join(f"<h2>h{i}</h2>" for i in range(10))
    out = extract_headings(
        _pages(spark, [("u", html)]), max_headings=4).collect()
    assert len(out) == 4 and {r.pos for r in out} == {0, 1, 2, 3}


def test_extract_code_blocks_whitespace_preserved(spark):
    html = (
        "<p>use <code>inline()</code> here</p>"
        '<pre><code>def f():\n    return 1\n</code></pre>'
        "<PRE class=x>raw  text</PRE>"
        "<prex>decoy</prex>"
    )
    out = extract_code_blocks(_pages(spark, [("u", html)])).orderBy("pos").collect()
    assert len(out) == 2  # inline <code> and <prex> are not blocks
    assert out[0].code == "def f():\n    return 1\n"  # tags stripped, ws kept
    assert out[0].n_lines == 3 and out[0].n_chars == len(out[0].code)
    assert out[1].code == "raw  text" and out[1].n_lines == 1


def test_structure_extractors_plan_no_shuffle(spark):
    from warcio_spark.operators.tables import (extract_code_blocks,
                                               extract_headings)

    for fn in (extract_headings, extract_code_blocks):
        df = fn(_pages(spark, [("u", "<h1>x</h1><pre>y</pre>")]))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (fn.__name__, plan)
