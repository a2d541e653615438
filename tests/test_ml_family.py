"""The ml family lives in one place and builds each shared score step
once.

- Layout: the 50 ``ml_*`` queries are defined in ``operators/ml.py``
  or the ``operators/ml_*.py`` theme modules, and the theme modules
  register nothing but ``ml_*`` queries.
- One derivation: the ``groupBy("score_q")`` grid of documents and
  positives and the global descending-score window of the ROC
  cumulative are written only in ``operators/ml_scores.py`` (anywhere
  in the package).
- Values: ``score_grid`` equals a pure-Python scoring of the fixture's
  documents.
"""

from __future__ import annotations

import ast
import hashlib
import os
import re
from collections import Counter

import pyarrow.parquet as pq

from mysql_public_data_ingestor_spark.registry import all_queries
from mysql_public_data_ingestor_spark.tables import Tables

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mysql_public_data_ingestor_spark",
)

# The theme modules that took the ml queries out of the round modules.
THEME_MODULES = ("ml_calibration", "ml_models", "ml_ranking", "ml_thresholds")

# The one function that may write each step.
HOMES = {
    "score_grid": [("operators/ml_scores.py", "score_grid")],
    "roc_window": [("operators/ml_scores.py", "roc_cum")],
}


def test_ml_queries_live_in_ml_modules():
    home = {n: s.fn.__module__.split(".")[-1] for n, s in all_queries().items()}
    ml = sorted(n for n in home if n.startswith("ml_"))
    assert len(ml) == 50
    outside = [n for n in ml if home[n] != "ml" and home[n] not in THEME_MODULES]
    assert not outside, f"ml queries outside operators/ml*.py: {outside}"
    foreign = sorted(n for n, m in home.items() if m in THEME_MODULES and not n.startswith("ml_"))
    assert not foreign, f"other queries in the ml theme modules: {foreign}"
    assert set(home.values()) >= set(THEME_MODULES)


def _step(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
        return None
    f = node.func
    # <frame>.groupBy("score_q").agg(..., F.sum("label"), ...)
    if (
        f.attr == "agg"
        and isinstance(f.value, ast.Call)
        and ast.unparse(f.value.func).endswith(".groupBy")
        and [ast.unparse(a) for a in f.value.args] == ["'score_q'"]
        and any(ast.unparse(a).startswith("F.sum('label')") for a in node.args)
    ):
        return "score_grid"
    # Window.orderBy(F.col("score_q").desc()): one global descending
    # order over the score grid
    if (
        f.attr == "orderBy"
        and isinstance(f.value, ast.Name)
        and f.value.id == "Window"
        and [ast.unparse(a) for a in node.args] == ["F.col('score_q').desc()"]
    ):
        return "roc_window"
    return None


def _step_sites() -> dict[str, list[tuple[str, str]]]:
    """step -> sorted (file, top-level function) of every package
    function whose code writes it."""
    sites: dict[str, set] = {k: set() for k in HOMES}
    for root, _, files in os.walk(PKG_DIR):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read())
            rel = os.path.relpath(path, PKG_DIR)
            for top in tree.body:
                for node in ast.walk(top):
                    step = _step(node)
                    if step:
                        sites[step].add((rel, getattr(top, "name", "<module>")))
    return {k: sorted(v) for k, v in sites.items()}


def test_shared_score_steps_are_written_once():
    assert _step_sites() == HOMES


def test_step_guard_sees_a_second_copy():
    tree = ast.parse(
        "def f(t):\n"
        "    g = scored_labeled(t).groupBy('score_q').agg(\n"
        "        F.count(F.lit(1)).alias('n'), F.sum('label').alias('pos'))\n"
        "    w = Window.orderBy(F.col('score_q').desc()).rowsBetween(-1, 0)\n"
        "    h = g.groupBy('score_q').agg(F.sum('n').alias('n'))\n"
        "    v = Window.partitionBy('lang').orderBy(F.col('score_q').desc())\n"
    )
    found = sorted(s for s in map(_step, ast.walk(tree)) if s)
    assert found == ["roc_window", "score_grid"]


# Java's ``\s``, which Spark's regexp_replace uses
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def _python_score_grid(sf_dir: str) -> dict[int, tuple[int, int]]:
    """score_q -> (documents, positives), scored in plain Python: the
    sha256 weight of each whitespace token, the softsign half-up
    ``score_q`` and the ``n >= 20`` / stopword-share gate."""
    from mysql_public_data_ingestor_spark.operators.text import CLS_WEIGHT_MOD, STOPWORDS

    half = (CLS_WEIGHT_MOD - 1) // 2
    stop = set(STOPWORDS)
    n_docs: Counter = Counter()
    n_pos: Counter = Counter()
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    for text in docs["text"].to_pylist():
        toks = _JAVA_SPACE.sub(" ", text.lower()).strip(" ").split(" ")
        ms = sum(
            int(hashlib.sha256(tok.encode()).hexdigest()[:15], 16) % CLS_WEIGHT_MOD - half
            for tok in toks
        )
        n = len(toks)
        d = 1000 * n + abs(ms)
        score_q = (10000 * (d + ms) + d) // (2 * d) if d > 0 else 5000
        label = int(n >= 20 and 5 * sum(tok in stop for tok in toks) <= 3 * n)
        n_docs[score_q] += 1
        n_pos[score_q] += label
    return {q: (n_docs[q], n_pos[q]) for q in n_docs}


def test_score_grid_matches_python(spark, sf_dir):
    from mysql_public_data_ingestor_spark.operators.ml_scores import score_grid

    got = {r.score_q: (r.n, r.pos) for r in score_grid(Tables(spark, sf_dir)).collect()}
    want = _python_score_grid(sf_dir)
    assert got == want
    assert sum(n for n, _ in got.values()) == pq.read_metadata(
        os.path.join(sf_dir, "documents.parquet")
    ).num_rows
