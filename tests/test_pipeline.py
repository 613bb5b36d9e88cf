"""End-to-end reference-pipeline tests over PCO-shaped fixtures
(SURVEY.md §5): extract→derive→validate→sink, including the exact CSV
header/field order and the silent-drop semantics of unmapped lists."""

from __future__ import annotations

import csv
import glob

from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.operators.pipeline import (
    PRESENTATION_COLUMNS,
    build_people_presentation,
    list_counts,
    render_csv_outputs,
    validate_pipeline,
)
from tests.fixtures_pco import pco_tables

Q = queries()

AS_OF = "2024-06-15"


def _presentation(spark):
    t = pco_tables(spark)
    return build_people_presentation(
        t["lists"], t["list_results"], t["people"], t["emails"], t["phones"], AS_OF
    )


def test_presentation_rows(spark):
    rows = {
        (r["person_list"], r["person_id"]): r
        for r in _presentation(spark).collect()
    }
    # "Adults" list filtered out by the Youth predicate (P1).
    assert all(k[0] != "Adults" for k in rows)
    # p1 in two Youth lists.
    assert ("Youth Group A", "p1") in rows and ("Youth Choir", "p1") in rows
    a = rows[("Youth Group A", "p1")]
    assert a["primary_email"] == "ada@x.io"  # primary picked, not the old one
    assert a["primary_phone_number"] == "555-0100"
    assert a["grade"] == "Grade 8"
    assert a["age"] == "14 years"  # birthday exactly on as_of
    b = rows[("Youth Group A", "p2")]
    assert b["grade"] == ""  # falsy-0 quirk
    assert b["age"] == "12 years"  # 2012-02-29 at 2024-06-15
    assert b["primary_phone_number"] == ""  # no primary phone
    c = rows[("Youth Group A", "p3")]
    assert c["age"] == "" and c["grade"] == "" and c["primary_email"] == ""


def test_counts_and_validation(spark):
    t = pco_tables(spark)
    pres = _presentation(spark)
    counts = {r["list_name"]: r["actual_count"] for r in list_counts(pres).collect()}
    assert counts == {"Youth Group A": 3, "Youth Group B": 2, "Youth Choir": 1}
    verdicts = {
        r["list_name"]: r["valid"]
        for r in validate_pipeline(pres, t["expected_counts"]).collect()
    }
    # match / mismatch / missing-name -> invalid (webscraper.py:88-96)
    assert verdicts == {
        "Youth Group A": True,
        "Youth Group B": False,
        "Youth Choir": False,
    }


def test_csv_sink_layout(spark, tmp_path):
    t = pco_tables(spark)
    pres = _presentation(spark)
    out = str(tmp_path / "csvs")
    render_csv_outputs(pres, t["csv_fmt"], out)
    dirs = sorted(
        p.split("csv_name=")[1] for p in glob.glob(f"{out}/csv_name=*")
    )
    # "Youth Choir" unmapped -> silently dropped (J5); "Adults" mapped
    # but filtered upstream -> absent.
    assert dirs == ["youth_a", "youth_b"]
    files = glob.glob(f"{out}/csv_name=youth_a/*.csv")
    assert len(files) == 1
    with open(files[0]) as f:
        rows = list(csv.reader(f))
    # exact header and field order (csv_operations.py:10)
    assert rows[0] == PRESENTATION_COLUMNS
    names = [r[0] for r in rows[1:]]
    assert names == sorted(names)  # stable in-file ordering by name


def test_attach_primary_no_duplication(spark):
    # A person with two primary-flagged emails must still yield one row.
    t = pco_tables(spark)
    emails = t["emails"].union(
        spark.createDataFrame(
            [("p1", "ada2@x.io", True)],
            "person_id string, address string, primary boolean",
        )
    )
    pres = build_people_presentation(
        t["lists"], t["list_results"], t["people"], emails, t["phones"], AS_OF
    )
    rows = pres.filter(
        (F.col("person_id") == "p1") & (F.col("person_list") == "Youth Group A")
    ).collect()
    assert len(rows) == 1
    assert rows[0]["primary_email"] == "ada2@x.io"  # deterministic: sorted


# --- Sheets edge seam (K3/K4/K5) ---------------------------------------------


class _FakeWorksheet:
    def __init__(self, sheet_id):
        self._properties = {"sheetId": sheet_id}


class _FakeSpreadsheet:
    """In-memory spreadsheet: tabs hold grids (list of row-lists);
    batch_update records every request AND applies copyPaste, so the
    test checks the reference's range-copy semantics, not just the
    request shape."""

    _next_sheet_id = 100

    def __init__(self, name, grids=None):
        self.id = f"sheet-{name}"
        self.name = name
        self.grids = grids or {}
        self.tab_ids = {}
        for tab in self.grids:
            _FakeSpreadsheet._next_sheet_id += 1
            self.tab_ids[tab] = _FakeSpreadsheet._next_sheet_id
        self.requests = []

    def worksheet(self, tab):
        return _FakeWorksheet(self.tab_ids[tab])

    def batch_update(self, body):
        self.requests.append(body)
        for req in body.get("requests", []):
            cp = req.get("copyPaste")
            if not cp:
                continue
            s, d = cp["source"], cp["destination"]
            src_tab = next(
                t for t, i in self.tab_ids.items() if i == s["sheetId"]
            )
            dst_tab = next(
                t for t, i in self.tab_ids.items() if i == d["sheetId"]
            )
            block = [
                row[s["startColumnIndex"] : s["endColumnIndex"]]
                for row in self.grids[src_tab][
                    s["startRowIndex"] : s["endRowIndex"]
                ]
            ]
            grid = self.grids.setdefault(dst_tab, [])
            need = d["startRowIndex"] + len(block)
            while len(grid) < need:
                grid.append([])
            for i, row in enumerate(block):
                grid[d["startRowIndex"] + i] = list(row)


class _FakeGspreadClient:
    """The gspread call surface the reference uses (google_sheets.py:
    21-37,41-43), recorded."""

    def __init__(self, spreadsheets):
        self.spreadsheets = {s.name: s for s in spreadsheets}
        self.imported = {}
        self.listed = 0

    def open(self, name):
        return self.spreadsheets[name]

    def import_csv(self, sheet_id, data):
        self.imported[sheet_id] = data

    def list_spreadsheet_files(self):
        self.listed += 1
        return [{"name": n} for n in self.spreadsheets]


def test_sheets_edge_e2e(spark, sf_dir, tmp_path):
    """K3/K4/K5 offline parity: the engine's rendered CSVs drive
    import_csv; the formula refresh is the reference's exact
    findReplace body; the copyPaste applied to a grid holding the
    ordered presentation rows reproduces ref_range_copy's output
    row-for-row (values-only)."""
    import glob as _glob

    from planning_center_data_pipeline_spark import sheets_edge
    from planning_center_data_pipeline_spark.sources.tables import load_table

    # K3 payloads: the per-list CSV text the engine rendered (K1).
    t = pco_tables(spark)
    out = str(tmp_path / "csvs")
    render_csv_outputs(_presentation(spark), t["csv_fmt"], out)
    csv_data = {}
    for d in sorted(_glob.glob(f"{out}/csv_name=*")):
        name = d.split("csv_name=")[1]
        with open(_glob.glob(f"{d}/*.csv")[0]) as f:
            csv_data[name] = f.read()
    assert set(csv_data) == {"youth_a", "youth_b"}

    # Master sheet: ref tab grid = the ordered 5-column orders relation
    # (positional rows, exactly what the engine's range_copy orders).
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    src_rows = [
        [r[c] for c in cols]
        for r in load_table(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .select(*cols)
        .limit(600)
        .collect()
    ]
    master = _FakeSpreadsheet(
        "master", grids={"ref_tab": src_rows, "dest_tab": []}
    )
    sheets = [master] + [_FakeSpreadsheet(n) for n in csv_data]
    client = _FakeGspreadClient(sheets)

    assert sheets_edge.process_google_sheets(
        client, csv_data, "master", "ref_tab", "dest_tab"
    )

    # K3: every engine CSV landed in its same-named spreadsheet, verbatim.
    for name, text in csv_data.items():
        assert client.imported[f"sheet-{name}"] == text
    assert client.listed == 1

    # K4: the exact reference refresh body (findReplace '=' -> '=').
    assert master.requests[0] == sheets_edge.FORMULA_REFRESH_BODY

    # K5: applied copyPaste == the engine's ref_range_copy rows
    # (source rows 3..500 1-indexed, 5 columns, values only), landing
    # at destination row 2 (startRowIndex 1).
    want = [[r[c] for c in cols] for r in Q["ref_range_copy"](spark, sf_dir).collect()]
    got = master.grids["dest_tab"][1:]
    assert got == want
    assert len(want) == 498
    cp = master.requests[1]["requests"][0]["copyPaste"]
    assert cp["pasteType"] == "PASTE_VALUES"
    assert (cp["source"]["startRowIndex"], cp["source"]["endRowIndex"]) == (2, 500)
    assert cp["destination"]["startRowIndex"] == 1


# --- scrape edge seam (S6/S7 + F7 TOTP) ---------------------------------------


class _FakeWebElement:
    def __init__(self, driver, key):
        self.driver, self.key = driver, key

    def send_keys(self, text):
        self.driver.typed[self.key] = text

    def click(self):
        self.driver.clicks += 1
        if self.driver.clicks == 2:  # second commit = past 2FA
            self.driver._page = self.driver.lists_html


class _FakeWebDriver:
    """The selenium surface the reference uses (webscraper.py:30-55):
    get / find_element / page_source / quit, with a login page that
    only yields the lists page after the second commit click."""

    def __init__(self, lists_html):
        self.lists_html = lists_html
        self._page = "<html><body>login</body></html>"
        self.typed = {}
        self.clicks = 0
        self.quit_called = False
        self.url = None

    def get(self, url):
        self.url = url

    def find_element(self, by, value):
        return _FakeWebElement(self, (by, value))

    @property
    def page_source(self):
        return self._page

    def quit(self):
        self.quit_called = True


_LISTS_HTML = """
<html><body>
<div class="list-item--index-card d-f">
  <span class="icon">i</span><span>Youth Group A</span>
  <div class="count badge badge--subtle">3</div>
</div>
<div class="list-item--index-card d-f">
  <span>Adults</span>
  <div class="count badge badge--subtle">44</div>
</div>
<div class="list-item--index-card d-f">
  <span>Youth Group B</span>
  <div class="count badge badge--subtle">9</div>
</div>
<div class="list-item--index-card d-f">
  <span>Youth Choir</span>
  <div class="count badge badge--subtle">7</div>
</div>
</body></html>
"""

# RFC 6238 Appendix B test secret (base32 of '12345678901234567890')
_RFC_SECRET = "GEZDGNBVGY3TQOJQGEZDGNBVGY3TQOJQ"


def test_totp_rfc6238_vectors():
    """F7: the stdlib TOTP matches the RFC 6238 Appendix B vectors."""
    from planning_center_data_pipeline_spark.scrape_edge import totp_now

    assert totp_now(_RFC_SECRET, at=59, digits=8) == "94287082"
    assert totp_now(_RFC_SECRET, at=1111111109, digits=8) == "07081804"
    assert totp_now(_RFC_SECRET, at=20000000000, digits=8) == "65353130"
    assert totp_now(_RFC_SECRET, at=59) == "287082"  # 6-digit default


def test_scrape_edge_e2e(spark):
    """S6/S7 offline parity: the fake webdriver receives the exact
    login choreography (credentials typed, TOTP for the frozen time,
    two commits, driver quit), the DOM extract keeps Youth lists only
    (reference quirk), and the result drives the in-engine count
    validation end-to-end."""
    from planning_center_data_pipeline_spark.scrape_edge import (
        scrape_expected_counts,
        totp_now,
    )

    drv = _FakeWebDriver(_LISTS_HTML)
    at = 1_111_111_109
    expected = scrape_expected_counts(
        spark, drv, "https://login.example.test", "u@x.io", "pw",
        _RFC_SECRET, at=at,
    )
    assert drv.url == "https://login.example.test"
    assert drv.typed[("id", "email")] == "u@x.io"
    assert drv.typed[("id", "password")] == "pw"
    assert drv.typed[("id", "code")] == totp_now(_RFC_SECRET, at=at)
    assert drv.clicks == 2 and drv.quit_called
    got = {r["list_name"]: r["expected_count"] for r in expected.collect()}
    assert got == {"Youth Group A": 3, "Youth Group B": 9, "Youth Choir": 7}

    # feed the scraped counts into the engine's J4 validation
    pres = _presentation(spark)
    verdicts = {
        r["list_name"]: r["valid"]
        for r in validate_pipeline(pres, expected).collect()
    }
    # actuals: A=3 B=2 Choir=1 -> A matches scrape, B and Choir don't
    assert verdicts == {
        "Youth Group A": True,
        "Youth Group B": False,
        "Youth Choir": False,
    }
