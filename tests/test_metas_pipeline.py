"""End-to-end metas pipeline vs the independent pandas oracle, on the
synthetic fixture corpus (FIXTURES.md §1.5/§1.6 — every guard in the
reference encoded as a file)."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from metas_judiciarias_etl_spark.metas import config as C
from metas_judiciarias_etl_spark.metas.pipeline import (
    compute_resumo,
    read_court_csvs,
    run,
    stringify_resumo,
)
from tests import metas_fixtures, metas_oracle


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("court_csvs")
    metas_fixtures.generate(str(d))
    return str(d)


@pytest.fixture(scope="module")
def spark_resumo(spark, corpus):
    return compute_resumo(read_court_csvs(spark, corpus))


@pytest.fixture(scope="module")
def oracle(corpus):
    return metas_oracle.expected(corpus)


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return round(float(v), 6) if isinstance(v, float) else v


def test_resumo_matches_oracle(spark_resumo, oracle):
    exp_resumo, _ = oracle
    got = {r["sigla_tribunal"]: r.asDict() for r in spark_resumo.collect()}
    exp = {r["sigla_tribunal"]: dict(r) for _, r in exp_resumo.iterrows()}
    assert sorted(got) == sorted(exp), "court set differs"
    for court, exp_row in exp.items():
        got_row = got[court]
        for col, exp_val in exp_row.items():
            assert col in got_row, f"{court}: missing column {col}"
            g, e = _cell(got_row[col]), _cell(exp_val)
            assert g == e, f"{court}.{col}: spark={g!r} oracle={e!r}"
        # metas absent from the oracle row (STJ-only columns on non-STJ
        # courts) must be NULL on the Spark side.
        for col in set(got_row) - set(exp_row):
            assert _cell(got_row[col]) is None, f"{court}.{col} should be NULL"


def test_court_set_and_edge_files(spark_resumo):
    courts = {r["sigla_tribunal"] for r in spark_resumo.collect()}
    # 8 valid courts; the empty / header-only / no-identity files are skipped.
    assert courts == {"TJSP", "TRT3", "TRE-AC", "TST", "STJ", "TJMRS", "TJXX", "TRF1"}


def test_guard_semantics(spark_resumo):
    rows = {r["sigla_tribunal"]: r.asDict() for r in spark_resumo.collect()}
    # zero denominator → NULL (TRE-AC meta2b: Σdist == Σsusp)
    assert rows["TRE-AC"]["meta2b"] is None
    # negative denominator passes through (TRE-AC meta4a)
    assert rows["TRE-AC"]["meta4a"] is not None and rows["TRE-AC"]["meta4a"] < 0
    # all-NaN required column → NULL (TJMRS suspm2_a)
    assert rows["TJMRS"]["meta2a"] is None
    # STJ override: meta8_stj computed → 8a/8b suppressed; meta10_stj has a
    # zero denominator → NULL → 10a/10b NOT suppressed
    assert rows["STJ"]["meta8_stj"] is not None
    assert rows["STJ"]["meta8a"] is None and rows["STJ"]["meta8b"] is None
    assert rows["STJ"]["meta10_stj"] is None
    assert rows["STJ"]["meta10a"] is not None
    # non-STJ courts never get the override
    assert rows["TJSP"]["meta8_stj"] is None
    # JE fallback outside the branch factor set (TRT3 carries 7_a columns)
    assert rows["TRT3"]["meta7a"] is not None
    # unmapped branch → full JE fallback (TJXX)
    assert rows["TJXX"]["meta2ant"] is not None


def test_bankers_rounding(spark_resumo):
    rows = {r["sigla_tribunal"]: r.asDict() for r in spark_resumo.collect()}
    # 49/800 × 100 = 6.125 exactly → HALF_EVEN gives 6.12 (HALF_UP: 6.13)
    assert rows["TJXX"]["meta2ant"] == 6.12


def test_malformed_rows_dropped(spark_resumo):
    rows = {r["sigla_tribunal"]: r.asDict() for r in spark_resumo.collect()}
    # TRF1: the 8-field row is dropped; sums use the two valid rows:
    # meta1 = (40+60)/((50+70)-(10+20))×100 = 100/90×100
    assert rows["TRF1"]["meta1"] == round(100 / 90 * 100, 2)


def test_stringified_sink_shape(spark_resumo):
    out = stringify_resumo(spark_resumo)
    # column order: identity + meta1, standard metas lexicographic
    # (meta10a before meta2a), then the _stj block (FIXTURES.md §1.7)
    cols = out.columns
    assert cols[:3] == ["sigla_tribunal", "ramo_justica", "meta1"]
    std = [c for c in cols if c.startswith("meta") and c != "meta1" and not c.endswith("_stj")]
    assert std == sorted(std) and std[0] == "meta10a"
    assert [c for c in cols if c.endswith("_stj")] == ["meta10_stj", "meta8_stj"]
    # every cell is a string; NULLs became 'NA'
    row = {r["sigla_tribunal"]: r.asDict() for r in out.collect()}["TJMRS"]
    assert row["meta2a"] == "NA"
    assert all(isinstance(v, str) for v in row.values())


def test_consolidado_union(spark, corpus, oracle):
    _, exp_cons = oracle
    data = read_court_csvs(spark, corpus)
    got = data.drop("_court_file")
    # same columns (by name) and same row count as pandas concat-by-name
    assert set(got.columns) == set(exp_cons.columns)
    assert got.count() == len(exp_cons)
    # the extra unknown column survives with its values
    vals = {r["coluna_extra"] for r in got.select("coluna_extra").collect()}
    assert {"x1", "x2"}.issubset(vals)


def test_session_conf_untouched_and_drop_semantics(spark, corpus):
    """The malformed-row drop must be deterministic (full-row parse) WITHOUT
    mutating session conf: columnPruning=false is scoped per-read, so other
    CSV queries in the session keep column pruning."""
    key = "spark.sql.csv.parser.columnPruning.enabled"
    before = spark.conf.get(key)
    data = read_court_csvs(spark, corpus)
    # Narrow projection: with pruning in effect the malformed 8-field TRF1
    # row would be silently kept (only the projected column is parsed).
    n_narrow = data.filter(data["sigla_tribunal"] == "TRF1").select(
        "sigla_tribunal"
    ).count()
    assert n_narrow == 2, "malformed row kept under narrow projection"
    assert spark.conf.get(key) == before, "session conf mutated by read_court_csvs"


def test_quoted_header_with_comma(spark, tmp_path):
    """A quoted header cell containing a comma is ONE column — naive
    split(',') would mis-bucket the file and misalign its schema."""
    d = tmp_path / "quoted"
    d.mkdir()
    (d / "teste_TJQQ.csv").write_text(
        'sigla_tribunal,ramo_justica,"col,virgula",julgados_2025,casos_novos_2025,suspensos_2025\n'
        "TJQQ,Justiça Estadual,abc,50,60,10\n",
        encoding="utf-8",
    )
    data = read_court_csvs(spark, str(d))
    assert "col,virgula" in data.columns
    row = compute_resumo(data).collect()[0]
    assert row["meta1"] == round(50 / 50 * 100, 2)


def test_end_to_end_sinks(spark, corpus, tmp_path):
    out_dir = str(tmp_path / "resultados")
    resumo, consolidado = run(spark, corpus, out_dir)
    import glob

    resumo_files = glob.glob(os.path.join(out_dir, "ResumoMetas.csv", "*.csv"))
    cons_files = glob.glob(os.path.join(out_dir, "Consolidado.csv", "*.csv"))
    assert len(resumo_files) == 1 and len(cons_files) == 1
    back = pd.read_csv(resumo_files[0], sep=";")
    assert len(back) == 8
    assert list(back.columns)[:3] == ["sigla_tribunal", "ramo_justica", "meta1"]


def test_chart_render_png(spark, corpus, tmp_path):
    """The reference's gerar_grafico edge (NP:83-98): a real PNG of the
    meta1 ranking, rendered regardless of whether matplotlib exists."""
    import struct as _struct

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from metas_judiciarias_etl_spark.metas.chart import render_chart

    resumo = stringify_resumo(compute_resumo(read_court_csvs(spark, corpus)))
    melted = resumo.selectExpr(
        "sigla_tribunal", "stack(1, 'meta1', meta1) AS (meta_name, value_str)"
    )
    ranking = (
        melted.select(
            "meta_name",
            "sigla_tribunal",
            F.expr("try_cast(value_str AS DOUBLE)").alias("value"),
        )
        .filter(F.col("value").isNotNull())
        .withColumn(
            "bar_pos",
            F.row_number().over(
                Window.partitionBy("meta_name").orderBy(
                    F.col("value").desc(), F.col("sigla_tribunal")
                )
            ),
        )
    )
    out = str(tmp_path / "meta1.png")
    render_chart(ranking, out)
    with open(out, "rb") as fh:
        data = fh.read()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = _struct.unpack(">II", data[16:24])
    assert w > 0 and h > 0


# ---------------------------------------------------------------------------
# O4 debug hook (NP:147 NOME_ARQUIVO_DEBUG, NP:174-211): the per-court
# Meta-1 trace must reproduce the pandas oracle's intermediates exactly.
# ---------------------------------------------------------------------------
def _pandas_meta1_trace(corpus: str, name: str) -> dict:
    df = pd.read_csv(os.path.join(corpus, name), sep=",", on_bad_lines="skip")
    julg = df["julgados_2025"].sum()
    cn = df["casos_novos_2025"].sum()
    sp = df["suspensos_2025"].sum()
    ds = 0.0
    if "dessobrestados_2025" in df.columns and df["dessobrestados_2025"].notna().any():
        ds = df["dessobrestados_2025"].sum()
    den = cn + ds - sp
    raw = julg / den * 100
    return {
        "rows": len(df), "numerator": julg, "cn": cn, "ds": ds, "sp": sp,
        "denominator": den, "meta1_raw": raw, "meta1": round(raw, 2),
    }


@pytest.mark.parametrize(
    "name",
    ["teste_TJSP.csv",   # carries dessobrestados_2025
     "teste_TRT3.csv",   # no optional column → DS defaults to 0
     "teste_TRF1.csv"],  # malformed row dropped before the sums
)
def test_meta1_debug_trace_matches_oracle(spark, corpus, name):
    from metas_judiciarias_etl_spark.metas.pipeline import meta1_debug_trace

    data = read_court_csvs(spark, corpus)
    trace = meta1_debug_trace(data, name)
    exp = _pandas_meta1_trace(corpus, name)
    assert trace["reason"] is None
    for k, v in exp.items():
        assert trace[k] == pytest.approx(v), f"{name}.{k}: {trace[k]} != {v}"


def test_meta1_debug_trace_na_branches(spark, corpus, tmp_path):
    from metas_judiciarias_etl_spark.metas.pipeline import meta1_debug_trace

    data = read_court_csvs(spark, corpus)
    # File that never matches → the loop-can't-hit case, reported not crashed.
    assert meta1_debug_trace(data, "nope.csv")["reason"] == "no_rows"
    # Zero denominator: CN + DS - SP == 0 → 'NA (denominador zero)' (NP:195).
    d = tmp_path / "zden"
    d.mkdir()
    (d / "teste_ZD.csv").write_text(
        "sigla_tribunal,ramo_justica,julgados_2025,casos_novos_2025,suspensos_2025\n"
        "TJZD,Justiça Estadual,10,5,5\n"
    )
    tr = meta1_debug_trace(read_court_csvs(spark, str(d)), "teste_ZD.csv")
    assert tr["reason"] == "zero_denominator" and tr["meta1"] is None
    assert tr["denominator"] == 0
    # All-NULL base column → notna().any() guard (NP:171).
    d2 = tmp_path / "allnull"
    d2.mkdir()
    (d2 / "teste_AN.csv").write_text(
        "sigla_tribunal,ramo_justica,julgados_2025,casos_novos_2025,suspensos_2025\n"
        "TJAN,Justiça Estadual,,5,1\n"
    )
    tr2 = meta1_debug_trace(read_court_csvs(spark, str(d2)), "teste_AN.csv")
    assert tr2["reason"] == "all_null_base_column"


def test_meta1_debug_trace_per_file_missing_columns(spark, tmp_path):
    """NP:206-208: a court whose OWN file lacks a base column must report
    missing_base_columns even when other files in the union carry it (the
    union fills NULLs, which frame-side looks like all_null_base_column —
    the per-file header disambiguates; ADVICE r5)."""
    from metas_judiciarias_etl_spark.metas.pipeline import meta1_debug_trace, run

    d = tmp_path / "percourt"
    d.mkdir()
    (d / "teste_FULL.csv").write_text(
        "sigla_tribunal,ramo_justica,julgados_2025,casos_novos_2025,suspensos_2025\n"
        "TJFU,Justiça Estadual,10,5,1\n"
    )
    (d / "teste_NOCN.csv").write_text(
        "sigla_tribunal,ramo_justica,julgados_2025,suspensos_2025\n"
        "TJNC,Justiça Estadual,10,1\n"
    )
    data = read_court_csvs(spark, str(d))
    # Without the header, the union's NULL-fill masquerades as all-null.
    assert meta1_debug_trace(data, "teste_NOCN.csv")["reason"] == "all_null_base_column"
    # With the file's own header, the reference's branch is reported.
    hdr = ("sigla_tribunal", "ramo_justica", "julgados_2025", "suspensos_2025")
    tr = meta1_debug_trace(data, "teste_NOCN.csv", file_header=hdr)
    assert tr["reason"] == "missing_base_columns" and tr["meta1"] is None
    # run(debug_court=…) wires the probe automatically.
    import logging

    logger = logging.getLogger("metas_judiciarias_etl_spark.metas.pipeline")
    records: list[str] = []

    class _Cap(logging.Handler):
        def emit(self, rec):
            records.append(rec.getMessage())

    h = _Cap()
    logger.addHandler(h)
    old = logger.level
    logger.setLevel(logging.INFO)
    try:
        run(spark, str(d), debug_court="teste_NOCN.csv")
    finally:
        logger.removeHandler(h)
        logger.setLevel(old)
    assert any("Colunas base para Meta 1 não encontradas" in m for m in records)


def test_run_debug_court_logs_trace(spark, corpus, caplog):
    import logging

    with caplog.at_level(logging.INFO, logger="metas_judiciarias_etl_spark.metas.pipeline"):
        run(spark, corpus, debug_court="teste_TJSP.csv")
    text = caplog.text
    assert "INICIANDO DEBUG PARA: teste_TJSP.csv" in text
    assert "Numerador (soma julgados_2025)" in text
    assert "Denominador Final Meta 1" in text
