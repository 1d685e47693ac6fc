"""The benchmark's workloads: how each one prepares, sets up and serves.

Every call into the program goes through a module attribute looked up
at call time (`engine.get_index`, `ranked.ranked_or`, ...), so the traced
run's in-place wrappers see it. Only call shapes that bench.py,
__spark_entry__.py and jobs/ already use are made here.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

import inputs

# op -> family: the pruned top-k plans, the exhaustive top-k plans, boolean
FAMILY = {"wand": "wand", "maxscore": "wand", "ranked_or": "ranked",
          "ranked_and": "ranked", "and": "bool", "or": "bool"}
# a timed round: the boolean batches are the shortest, so they are served
# twice, between the top-k batches, for as many samples as each top-k family
ROUND = ("wand", "and", "maxscore", "or", "ranked_or", "and", "ranked_and", "or")
CODEC = "single_packed_dint"


def expected_kind(op: str) -> str:
    """Reference answer an op is checked against: pruned plans must equal
    the exhaustive ranked OR."""
    return "ranked_or" if op in ("wand", "maxscore") else op


class FlatSf01:
    """The frozen driver surface: engine.get_* build, the 16-query
    QUERY_SET served through the __spark_entry__.queries() callables."""

    name = "flat_sf01"

    def __init__(self, seed: int, run_dir: str, trace: bool):
        self.seed, self.sf_dir = seed, os.path.join(run_dir, "sf")

    def prepare(self, bench) -> None:
        from dint_spark.queryset import QUERY_SET

        texts = inputs.flat_corpus()
        inputs.write_flat(texts, self.sf_dir)
        self.expected = inputs.Expected(inputs.flat_tokens(texts))
        self.batch = [(qid, list(terms)) for qid, terms in QUERY_SET]

    def setup(self, bench, spark) -> None:
        from dint_spark import engine

        d = self.sf_dir
        engine.get_index(spark, d)
        engine.get_block_index(spark, d, CODEC)
        engine.get_universe(spark, d)
        engine.get_norm_slices(spark, d)
        engine.get_sharded_blocks(spark, d, CODEC)

    def serve(self, spark, op: str, batch) -> list:
        import __spark_entry__ as entry

        return entry.queries()[f"ft_{op}"](spark, self.sf_dir).collect()

    def index(self, spark):
        """(FullTextIndex, block index, codec) of the serving state."""
        from dint_spark import engine

        bidx, codec = engine.get_block_index(spark, self.sf_dir, CODEC)
        return engine.get_index(spark, self.sf_dir), bidx, codec

    def decode_stats(self, spark):
        """The bench.py pruning probe over the frozen query set."""
        from dint_spark import engine
        from dint_spark.operators import wand_shard
        from dint_spark.queryset import queries_df

        idx, bidx, codec = self.index(spark)
        return wand_shard.wand_sharded_decode_stats(
            idx, bidx, codec, queries_df(spark), idx.num_docs,
            engine.get_norm_slices(spark, self.sf_dir),
            universe=engine.get_universe(spark, self.sf_dir),
        )


def _source_digest(root: str) -> str:
    """Key of the persisted index: the program source, the corpus
    generator and the codec it was built with."""
    h = hashlib.sha256(CODEC.encode())
    paths = glob.glob(os.path.join(root, "dint_spark", "**", "*.py"), recursive=True)
    for p in sorted(paths) + [inputs.__file__]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class ZipfBulk:
    """A Zipf source-code corpus persisted by index.builder, reopened the
    way jobs/query_batch.py does, served one bulk batch (a seeded sample
    of the query log) per op and round."""

    name = "zipf_bulk"
    BATCH = 128  # >= 64: the operators' plan prefilter is on, as in bulk serving

    def __init__(self, seed: int, run_dir: str, trace: bool):
        self.seed, self.run_dir, self.trace = seed, run_dir, trace
        self.state = None

    def prepare(self, bench) -> None:
        """Build the persisted index untimed, with the program under test.
        Untraced runs keep it under out/cache, keyed by a digest of the
        program source, the corpus generator and the codec, so a checkout
        builds it once; the traced run always builds afresh so the builder
        layers are measured."""
        cols = inputs.zipf_corpus()
        self.expected = inputs.Expected(inputs.zipf_tokens(cols))
        self.batch = inputs.zipf_batch(self.seed, self.BATCH, self.expected)
        if self.trace:
            base = os.path.join(self.run_dir, "zipf")
        else:
            base = os.path.join(
                bench.out_dir, "cache", f"zipf-{_source_digest(bench.root)}"
            )
        self.index_dir = os.path.join(base, "index")
        done = os.path.join(base, "DONE")
        if os.path.exists(done):
            return
        shutil.rmtree(base, ignore_errors=True)
        src = os.path.join(base, "corpus")
        inputs.write_zipf(cols, src)
        from dint_spark.corpus import with_doc_ids
        from dint_spark.index import builder

        spark = bench.start_spark()
        builder.IndexBuilder(spark, self.index_dir, codec_name=CODEC).build(
            with_doc_ids(spark.read.parquet(src))
        )
        # a fresh JVM for the timed set-ups, as when the index was cached
        bench.shutdown()
        with open(done, "w") as f:
            f.write("ok\n")

    def lineage(self, stage: str) -> dict:
        with open(os.path.join(self.index_dir, "_lineage", f"{stage}.json")) as f:
            return json.load(f)

    def setup(self, bench, spark) -> None:
        with bench.span("reopen", "reopen"):
            self.state = self._reopen(spark)

    def _reopen(self, spark) -> dict:
        from pyspark.sql import functions as F

        from dint_spark import util
        from dint_spark.build.dint_build import DintModel
        from dint_spark.build.postings import FullTextIndex
        from dint_spark.codecs.registry import get_codec
        from dint_spark.operators import wand_shard

        load = lambda t: util.materialize(spark.read.parquet(os.path.join(self.index_dir, t)))
        postings, docs = load("postings"), load("docs")
        vocab, term_meta = load("vocab"), load("term_meta")
        num_docs = docs.count()
        idx = FullTextIndex(
            postings=postings, docs=docs, vocab=vocab, term_meta=term_meta,
            num_docs=num_docs, avgdl=0.0,
        )
        codec_name = self.lineage("index").get("codec", CODEC)
        model = DintModel.load(spark, os.path.join(self.index_dir, "dint_model"))
        codec = get_codec(codec_name, model)
        bidx = load("index")
        universe = int(docs.agg(F.max("doc_id")).first()[0]) + 1
        _nsh, ss = wand_shard.static_layout(universe)
        slices = util.materialize(
            wand_shard.norm_slices(docs.select("doc_id", "norm_len"), ss)
        )
        sharded = util.materialize(
            wand_shard.sharded_block_index(
                bidx, ss,
                wand_shard.shard_block_max(
                    postings.select("term_id", "doc_id", "tf", "norm_len"), ss
                ),
            )
        )
        return dict(idx=idx, bidx=bidx, codec=codec, universe=universe,
                    slices=slices, sharded=sharded)

    @staticmethod
    def query_frame(spark, batch):
        """The queryset.queries_df layout (a SQL VALUES relation) for an
        arbitrary batch. Generated terms are identifiers, so repr() is a
        valid SQL string literal."""
        rows = ", ".join(
            f"(CAST({qid} AS BIGINT), array({', '.join(repr(t) for t in terms)}))"
            for qid, terms in batch
        )
        return spark.sql(f"SELECT col1 AS query_id, col2 AS terms FROM VALUES {rows}")

    def serve(self, spark, op: str, batch) -> list:
        from dint_spark.operators import boolean, ranked, wand_shard

        s = self.state
        idx, q = s["idx"], self.query_frame(spark, batch)
        if op in ("wand", "maxscore"):
            fn = wand_shard.wand_topk_sharded if op == "wand" else wand_shard.maxscore_topk_sharded
            df = fn(idx, s["bidx"], s["codec"], q, idx.num_docs, s["slices"], k=10,
                    universe=s["universe"], sharded_bidx=s["sharded"])
        elif op == "ranked_or":
            df = ranked.ranked_or(idx.postings, q, idx.vocab, idx.num_docs, k=10)
        elif op == "ranked_and":
            df = ranked.ranked_and(idx.postings, q, idx.vocab, idx.num_docs, k=10)
        elif op == "and":
            df = boolean.and_query(idx.postings, q)
        else:
            df = boolean.or_query(idx.postings, q)
        return df.collect()

    def index(self, spark):
        s = self.state
        return s["idx"], s["bidx"], s["codec"]

    def decode_stats(self, spark):
        from dint_spark.operators import wand_shard

        s = self.state
        q = self.query_frame(spark, self.batch)
        return wand_shard.wand_sharded_decode_stats(
            s["idx"], s["bidx"], s["codec"], q, s["idx"].num_docs, s["slices"],
            universe=s["universe"],
        )


WORKLOADS = {w.name: w for w in (FlatSf01, ZipfBulk)}
