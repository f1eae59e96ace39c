"""The python -m product_etl_spark CLI: every subcommand drives its
pipeline end-to-end with offline kernels (hermetic, DRY_RUN-style)."""

from __future__ import annotations

import pytest

from product_etl_spark.__main__ import main


@pytest.mark.slow
def test_ingest_translate_enrich_cli(spark, tmp_path, capsys):
    import test_ingest as TI

    csv = tmp_path / "raw.csv"
    csv.write_text(TI.HEADER + "\n" + "\n".join(TI.ROWS), encoding="utf-8")
    wh = str(tmp_path / "wh")

    # dry-run reports counts, writes nothing
    assert main(["ingest", "--csv", str(csv), "--warehouse", wh, "--dry-run"]) == 0
    out = capsys.readouterr().out
    # pre-merge builder counts: the fixture carries one duplicate SKU
    # that the MERGE collapses on a real write
    assert "product\t5" in out and "dry-run" in out
    import os

    assert not os.path.exists(f"{wh}/product")

    # real ingest writes the warehouse
    assert main(["ingest", "--csv", str(csv), "--warehouse", wh]) == 0
    assert spark.read.parquet(f"{wh}/product").count() == 4

    # translation sweep with the offline kernel
    assert main(["translate", "--warehouse", wh]) == 0
    tr = spark.read.parquet(f"{wh}/translations")
    assert tr.filter("lang_code = 'en'").count() > 0

    # enrichment from a products parquet, bounded by --limit
    pp = str(tmp_path / "prod_html")
    spark.createDataFrame(
        [("p-1", '<img src="https://x/a.jpg">'), ("p-2", '<img src="https://x/b.jpg">')],
        "product_id string, details_html string",
    ).write.parquet(pp)
    assert main([
        "enrich", "--products", pp, "--stage-root", str(tmp_path / "st"),
        "--limit", "1",
    ]) == 0
    out = capsys.readouterr().out
    assert "image_urls\t1" in out


@pytest.mark.slow
def test_curate_and_profile_cli(spark, tmp_path, capsys, sf_dir):
    docs = f"{sf_dir}/documents.parquet"
    outdir = str(tmp_path / "cur")
    assert main(["curate", "--input", docs, "--output", outdir]) == 0
    out = capsys.readouterr().out
    assert "train\t" in out
    assert spark.read.parquet(f"{outdir}/train").count() > 0

    assert main([
        "profile", "--table", docs, "--cols", "doc_id,lang",
    ]) == 0
    out = capsys.readouterr().out
    assert "doc_id\trows=" in out and "lang\trows=" in out

    with pytest.raises(SystemExit):
        main(["nope"])


def _export_rows():
    """The test_ingest fixture as parsed (header, rows) cells."""
    import csv
    import io

    import test_ingest as TI

    header, *rows = csv.reader(
        io.StringIO(TI.HEADER + "\n" + "\n".join(TI.ROWS)), delimiter=";"
    )
    return header, rows


def _write_csv(path, header, rows):
    import csv

    with open(path, "w", newline="", encoding="utf-8") as fh:
        csv.writer(fh, delimiter=";").writerows([header, *rows])


def _tables(spark, wh):
    """{table: sorted rows} of a warehouse, audit timestamps dropped
    (they record when a run merged, not what it merged)."""
    import os

    out = {}
    for name in sorted(os.listdir(wh)):
        df = spark.read.parquet(f"{wh}/{name}")
        cols = sorted(
            f.name for f in df.schema.fields
            if f.dataType.typeName() != "timestamp"
        )
        out[name] = sorted(map(repr, df.select(*cols).collect()))
    return out


def test_stream_ingest_cli_matches_batch_ingest(spark, tmp_path, capsys):
    """Two exports dropped one at a time: each stream-ingest run merges
    only the new file, prints one progress line for its micro-batch,
    and the warehouse ends equal to one batch ingest of both."""
    import json

    header, rows = _export_rows()
    first = rows[0][0]
    parts = (
        [r for r in rows if r[0] == first],
        [r for r in rows if r[0] != first],
    )
    drop, both = tmp_path / "drop", tmp_path / "both"
    drop.mkdir()
    both.mkdir()
    stream_wh, batch_wh = str(tmp_path / "swh"), str(tmp_path / "bwh")
    argv = [
        "stream-ingest", "--input-dir", str(drop), "--warehouse", stream_wh,
        "--checkpoint", str(tmp_path / "ckpt"),
    ]
    for i, part in enumerate(parts):
        _write_csv(both / f"export_{i}.csv", header, part)
        _write_csv(drop / f"export_{i}.csv", header, part)
        assert main(argv) == 0
        lines = capsys.readouterr().out.splitlines()
        assert len(lines) == 1
        progress = json.loads(lines[0])
        assert progress["batchId"] == i
        assert progress["numInputRows"] == len(part)
        assert progress["durationMs"]["triggerExecution"] >= 0

    assert main(["ingest", "--csv", str(both), "--warehouse", batch_wh]) == 0
    assert _tables(spark, stream_wh) == _tables(spark, batch_wh)


def test_stream_ingest_cli_needs_an_export(tmp_path):
    with pytest.raises(SystemExit, match="no .csv export"):
        main([
            "stream-ingest", "--input-dir", str(tmp_path),
            "--warehouse", str(tmp_path / "wh"),
            "--checkpoint", str(tmp_path / "ckpt"),
        ])


def test_ingest_cli_reads_xlsx_export(spark, tmp_path, capsys):
    """An .xlsx export goes through the same cascade as its CSV."""
    from xml.sax.saxutils import escape

    from test_sources import _write_xlsx

    header, rows = _export_rows()
    csv_path, xlsx_path = tmp_path / "raw.csv", tmp_path / "raw.xlsx"
    _write_csv(csv_path, header, rows)
    sheet = "".join(
        "<row>"
        + "".join(
            f'<c t="inlineStr"><is><t>{escape(v)}</t></is></c>'
            if v else "<c/>"
            for v in cells
        )
        + "</row>"
        for cells in [header, *rows]
    )
    _write_xlsx(xlsx_path, sheet)

    counts = []
    for path in (csv_path, xlsx_path):
        assert main([
            "ingest", "--csv", str(path), "--warehouse",
            str(tmp_path / "wh"), "--dry-run",
        ]) == 0
        counts.append(capsys.readouterr().out)
    assert counts[0] == counts[1] and "product\t5" in counts[0]
