"""kg_pipeline workload: html pages → ``run_pipeline`` with real rejections.

Pages come from the public ``synthesize_pages`` (html only, so the fused
html→triples kernel runs).  A seeded ~2 % of pages is made "dirty": each
names a page-unique place in four case variants ("Acme Corp is located in
Qwvx<page>." ×4).  The four surfaces canonicalise to one node
``surface:qwvx<page>`` with four ``kg:name`` values, which fails
``PlaceShape``'s ``sh:maxCount 3``.  So the generator predicts exactly:

- one MaxCount violation per dirty page;
- five rejected triples per dirty page (the node's ``rdf:type kg:Place``
  and its four ``kg:name`` triples);
- one extra merged ``kg:locatedIn`` triple per dirty page
  (``org:acme → surface:qwvx<page>``; its subject conforms).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from checks import check_kg_rep

N_PAGES = 20_000
FILLER_SENTENCES = 96
FACT_DENSITY = 0.3
DIRTY_PER_MILLE = 20
N_GROUPS = 2

KG = "http://example.org/kg#"
RELATIONS = [KG + "locatedIn", KG + "publishes", KG + "founded"]
DIRTY_ORG, DIRTY_ORG_ID = "Acme Corp", "org:acme"
# letters that share no trigram with any alias, so linking never resolves
# a dirty surface to a vocabulary place
DIRTY_VARIANTS = ("Qwvx", "QWVX", "QwVx", "QWvX")
REJECTED_PER_DIRTY = 1 + len(DIRTY_VARIANTS)

# every name run_pipeline imports, by the layer it belongs to
PIPELINE_LAYERS = {
    "extract_raw_triples": "extract",
    "extract_raw_triples_from_html": "extract",
    "mentions_from_raw": "link_canon",
    "link_mentions": "link_canon",
    "canonicalize": "link_canon",
    "typed_triples": "typed",
    "entity_triples": "typed",
    "validate": "validate",
    "merge_triples": "merge",
}


def _page_id():
    return F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")


def _is_dirty(seed: int, page_id):
    return F.pmod(F.xxhash64(F.lit(seed), page_id), 1000) < DIRTY_PER_MILLE


def dirty_pages(spark, seed: int, n: int = N_PAGES):
    """The seeded corpus: ``synthesize_pages`` with the dirty sentences
    spliced into the main paragraph of the selected pages; html only."""
    from shacl_validator_spark.sources.pages import HTML_SUFFIX, synthesize_pages

    pages = synthesize_pages(
        spark, n, filler_sentences=FILLER_SENTENCES, fact_density=FACT_DENSITY
    )
    sentences = F.concat_ws(
        " ",
        *[
            F.format_string(f"{DIRTY_ORG} is located in {v}%d.", _page_id())
            for v in DIRTY_VARIANTS
        ],
    )
    text = "decode(html, 'UTF-8')"
    spliced = F.concat(
        F.expr(f"substring({text}, 1, length({text}) - {len(HTML_SUFFIX)})"),
        F.lit(" "),
        sentences,
        F.lit(HTML_SUFFIX),
    )
    return pages.select(
        "url",
        "warc_ts",
        F.when(_is_dirty(seed, _page_id()), F.encode(spliced, "UTF-8"))
        .otherwise(F.col("html"))
        .alias("html"),
        "lang",
    )


class KgPipeline:
    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.pages = None
        self.predicted: dict[str, int] = {}
        self.expected_rel: set | None = None
        self.first_hash: tuple | None = None
        self.setup_detail: dict[str, float] = {}
        self.candidate_frac: float | None = None

    # -- set-up -----------------------------------------------------------
    def setup(self, k: int) -> None:
        """Generate and materialise the corpus; compile the profile."""
        from shacl_validator_spark.shapes import compile_shapes, profile_shapes_ttl

        t0 = time.perf_counter()
        rows = compile_shapes(profile_shapes_ttl("kg_extraction"))
        self.setup_detail["compile.s"] = time.perf_counter() - t0
        self.setup_detail["compile.constraints"] = len(rows)
        path = os.path.join(self.work, f"pages{k}")
        dirty_pages(self.spark, self.seed).write.mode("overwrite").parquet(path)
        if k:
            shutil.rmtree(os.path.join(self.work, f"pages{k - 1}"), ignore_errors=True)
        self.pages = self.spark.read.parquet(path)

    def predict(self) -> None:
        """The generator's own prediction (not timed)."""
        from shacl_validator_spark.sources.pages import expected_triples

        ids = [
            r[0]
            for r in self.spark.range(0, N_PAGES)
            .filter(_is_dirty(self.seed, F.col("id")))
            .collect()
        ]
        self.predicted = {
            "violations": len(ids),
            "rejected": REJECTED_PER_DIRTY * len(ids),
        }
        dirty_links = {
            (DIRTY_ORG_ID, KG + "locatedIn", f"surface:{DIRTY_VARIANTS[0].lower()}{i}")
            for i in ids
        }
        clean = {
            tuple(r)
            for r in expected_triples(
                self.spark, N_PAGES, fact_density=FACT_DENSITY
            ).collect()
        }
        self.expected_rel = clean | dirty_links

    def _candidate_frac(self) -> float:
        """Share of pages that pass the extractor's JVM candidate gate (the
        same containment test ``extract_raw_triples_from_html`` applies)."""
        from shacl_validator_spark.sources.extract import PATTERN_GATE_LITERALS

        if self.candidate_frac is None:
            gate = None
            for lit in PATTERN_GATE_LITERALS:
                c = F.contains(F.col("html"), F.lit(lit.strip().encode()))
                gate = c if gate is None else gate | c
            self.candidate_frac = self.pages.filter(gate).count() / N_PAGES
        return self.candidate_frac

    # -- one operation ----------------------------------------------------
    def op(self, i: int, tracer=None) -> tuple[float, list[str], dict]:
        from shacl_validator_spark.plans import pipeline as pl
        from shacl_validator_spark.plans.merge import MERGE_KEY

        out_dir = os.path.join(self.work, f"out{i}")
        # the measured path is the bare call: nothing wrapped, no spans
        restore = _wrap_pipeline(pl, tracer) if tracer else {}
        try:
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("run_pipeline", "pipeline", op=i):
                    res = pl.run_pipeline(
                        self.spark, self.pages, out_dir, n_groups=N_GROUPS, resume=False
                    )
                    tracer.end_phase()
            else:
                res = pl.run_pipeline(
                    self.spark, self.pages, out_dir, n_groups=N_GROUPS, resume=False
                )
            wall = time.perf_counter() - t0
        finally:
            for name, fn in restore.items():
                setattr(pl, name, fn)

        table = self.spark.read.parquet(os.path.join(out_dir, "triples"))
        h = table.select(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*MERGE_KEY).cast("decimal(38,0)")),
        ).first()
        table_hash = (int(h[0]), str(h[1]))
        merged_rel = None
        if self.first_hash is None:
            merged_rel = {
                tuple(r)
                for r in table.filter(F.col("predicate").isin(RELATIONS))
                .select("subject", "predicate", "object_value")
                .distinct()
                .collect()
            }
        counts = {
            "violations": res.violations,
            "triples_in": res.triples_in,
            "triples_valid": res.triples_valid,
        }
        fails = check_kg_rep(
            counts, self.predicted, merged_rel, self.expected_rel, table_hash,
            self.first_hash,
        )
        if self.first_hash is None and not fails:
            self.first_hash = table_hash
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(out_dir, "triples"))
            for f in fs
            if f.endswith(".parquet")
        ]
        nbytes = sum(os.path.getsize(f) for f in files)
        shutil.rmtree(out_dir, ignore_errors=True)
        extra = {
            "valid_triples": res.triples_valid,
            "stage_seconds": dict(res.stage_seconds),
            "triples_in": res.triples_in,
            "violations": res.violations,
            "merged": res.merged,
            "bytes_written": nbytes,
            "files_written": len(files),
        }
        return wall, fails, extra

    # -- per-layer numbers of one traced operation ------------------------
    def layer_metrics(self, extra: dict, observed: dict) -> dict[str, float]:
        from shacl_validator_spark.operators.linking import SMALL_SURFACE_SET

        st = extra["stage_seconds"]
        surfaces = observed.get("surfaces", 0)
        return {
            "extract.s": st.get("extract", 0.0),
            "extract.candidate_frac": self._candidate_frac(),
            "extract.raw_triples": observed.get("raw_triples", 0),
            "link_canon.s": st.get("link_canon", 0.0),
            "link_canon.surfaces": surfaces,
            # both linking and canonicalisation switch to their distributed
            # path above this many distinct (surface, class) rows
            "link_canon.distributed": float(surfaces > SMALL_SURFACE_SET),
            "typed.s": st.get("typed_triples", 0.0),
            "typed.rows_out": extra["triples_in"],
            "validate.s": st.get("validate", 0.0),
            "validate.results": extra["violations"],
            "merge.s": st.get("merge", 0.0),
            "merge.rows_inserted": extra["merged"],
            "merge.rows_rejected": extra["triples_in"] - extra["valid_triples"],
            "merge.bytes_written": extra["bytes_written"],
            "merge.files_written": extra["files_written"],
            "merge.bytes_per_triple": extra["bytes_written"] / max(extra["merged"], 1),
        }


def _wrap_pipeline(pl, tracer) -> dict:
    """Wrap the names ``plans.pipeline`` imports so that each call opens
    its layer's phase (job group + span) — traced run only."""
    originals = {}
    for name, layer in PIPELINE_LAYERS.items():
        fn = getattr(pl, name)
        originals[name] = fn

        def wrapped(*a, __fn=fn, __layer=layer, __name=name, **kw):
            tracer.phase(__layer)
            t0 = time.perf_counter()
            out = __fn(*a, **kw)
            if __name == "validate":
                ph = tracer.current_phase()
                ph["call_s"] = ph.get("call_s", 0.0) + time.perf_counter() - t0
            if __name.startswith("extract_raw_triples"):
                out = tracer.count_rows(out, "raw_triples")
            elif __name == "mentions_from_raw":
                out = tracer.count_rows(out, "surfaces")
            return out

        setattr(pl, name, wrapped)
    return originals
