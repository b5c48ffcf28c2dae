"""End-to-end near-duplicate detection + clustering pipeline.

The north-star job (BASELINE.json): pages -> token normalization
(SymSpell delete-key correction of noisy tokens) -> shingles ->
signatures (MinHash + SimHash) -> candidate pairs (LSH bands ∪ SimHash
Hamming ∪ substring fingerprints ∪ exact-hash) -> exact-Jaccard verify
-> hash-min connected components -> clusters.

Checkpointing: ``signatures`` and ``edges`` are written as parquet
checkpoint tables (Iceberg-shaped: data + a properties JSON carrying
config and stage lineage); a rerun with the same ``checkpoint_dir``
resumes from the newest complete stage instead of recomputing
(the save_pickle/load_pickle analogue, reference pickle_mixin.py).
Per-stage row counts land in a ``metrics`` table: each stage's relation
carries a ``DataFrame.observe`` count that the action which first runs
the stage fills in, so metrics launch no job of their own.

Invariant (BASELINE.json input_hint): extracted ``text`` is carried
byte-identically per url — the pipeline only ever *reads* it.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from symspellpy_spark.config import EngineConfig, Verbosity
from symspellpy_spark.operators.cluster import connected_components
from symspellpy_spark.operators.dedup import (
    exact_duplicates,
    exact_duplicates_from_hash,
    jaccard_verify,
    lsh_candidate_pairs,
    normalized_tokens,
    simhash_candidate_pairs,
    substring_fingerprint_pairs,
    substring_pairs_from_grams,
    winnowing_candidate_pairs,
)
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import lookup_batch

__all__ = ["DedupConfig", "DedupPipeline"]

# v2: checkpoint format changed incompatibly vs v1 — `id` switched from
# url string to xxhash64 long, signatures carry a precomputed `bands`
# column, and the MinHash/shingle hash families changed. Bumping the
# version invalidates all v1 checkpoints by design (validity is keyed on
# config+version, which would otherwise accept them).
PIPELINE_VERSION = 2

# Candidate-source tags, defined ONCE: candidate_pairs() stamps each
# union branch with these literals, and the per-source metrics tally in
# edges() iterates the same constants — so adding or renaming a source
# cannot silently drop it from metrics (round-4 advice).
SRC_LSH = "minhash_lsh"
SRC_SIMHASH = "simhash"
SRC_SUBSTRING = "substring"
SRC_EXACT = "exact"
SRC_WINNOW = "winnowing"
CANDIDATE_SOURCES = (SRC_LSH, SRC_SIMHASH, SRC_SUBSTRING, SRC_EXACT)

CHECKPOINT_CODEC = "zstd"


@dataclass
class DedupConfig:
    shingle_k: int = 5
    num_perm: int = 128
    bands: int = 32
    minhash_seed: int = 1337
    jaccard_threshold: float = 0.7
    simhash_max_hamming: int = 3
    substring_gram_len: int = 40
    # content-defined sampling rate: a shared substring of m chars is
    # missed with (1-1/mod)^(m-gram_len+1) ~ 2e-7 at m=280 chars; halving
    # the rate halves the dominant candidate-stage shuffle
    substring_sample_mod: int = 16
    max_bucket_size: int = 1000
    # hot-band salted tier (north rule: "salted repartitioning for
    # hot-band skew"): buckets with max_bucket_size < size <= this cap
    # still generate pairs, via a salted self-join that spreads one hot
    # bucket's O(size^2) work over n_salt tasks; None keeps the plain
    # drop-over-cap behavior
    salted_bucket_cap: int | None = None
    n_salt: int = 8
    # winnowing local-match sweep (MOSS fingerprints): off by default —
    # LSH + SimHash + substring already cover whole-doc near-dups; turn
    # on to also catch PARTIAL overlap (a shared section >= 
    # winnow_window + winnow_k - 1 chars guarantees a candidate pair)
    use_winnowing: bool = False
    winnow_k: int = 8
    winnow_window: int = 4
    # Signature checkpoints: a DISK checkpoint stores only (id, minhash
    # packed as 1KB binary, simhash, bands, and on the text path the
    # fused source columns below) with zstd — the fat shingle_hashes
    # column (the majority of signature bytes) is re-derived by a
    # shingles-only kernel pass at verify phase 2, where only
    # estimate-surviving pairs ever read it. In-memory runs (no
    # checkpoint_dir) keep the full row: RAM re-reads are nearly free,
    # so re-deriving would only cost.
    #
    # Candidate sources: on the text path the signature kernel also
    # emits the substring sample grams (sub_grams) and a 64-bit
    # full-text content hash (text_hash), and the substring + exact
    # sources derive from the signatures relation instead of re-scanning
    # text, so the batch path reads corpus text once (narrow-checkpoint
    # runs add the survivors-only shingle re-derive at verify, and
    # winnowing its own kernel pass). The dictionary-normalized token
    # path (normalize_tokens) keeps the per-source text scans.
    # Winnowing is deliberately NOT fused: its fingerprint density is
    # 2/(winnow_window+1) per character — ~1.8-3.2 BYTES of int64
    # fingerprints per text byte at the shipped configs — so carrying
    # them on the signatures relation would make every signature
    # checkpoint/localCheckpoint 2-3x wider than the text it summarizes
    # to save one scan.
    normalize_tokens: bool = False
    engine: EngineConfig = field(default_factory=EngineConfig)

    def to_json(self) -> str:
        d = {k: v for k, v in self.__dict__.items() if k != "engine"}
        d["engine"] = {
            "max_dictionary_edit_distance": self.engine.max_dictionary_edit_distance,
            "prefix_length": self.engine.prefix_length,
        }
        d["pipeline_version"] = PIPELINE_VERSION
        return json.dumps(d, sort_keys=True)


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: DedupConfig | None = None,
        dictionary: SparkDictionary | None = None,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.config = config or DedupConfig()
        self.dictionary = dictionary
        self.checkpoint_dir = checkpoint_dir
        self._metrics: list[dict] = []
        # (stage, Observation) pairs whose action has not run yet
        self._observed: list[tuple[str, Observation]] = []
        self._memo: dict[str, DataFrame] = {}
        if checkpoint_dir is not None:
            from symspellpy_spark.sources.catalog import TableCatalog

            self._catalog = TableCatalog(spark, checkpoint_dir)
        else:
            self._catalog = None

    # ---------------- checkpoint plumbing ----------------

    def _ckpt_path(self, stage: str) -> str | None:
        if self.checkpoint_dir is None:
            return None
        return os.path.join(self.checkpoint_dir, stage)

    def _load_ckpt(self, stage: str) -> DataFrame | None:
        if self._catalog is None:
            return None
        props = self._catalog.properties(stage)
        if props is None or props.get("config") != self.config.to_json():
            # absent or config changed -> checkpoint invalid; recompute
            return None
        self._metric(stage, "resumed_from_checkpoint", 1)
        return self._catalog.load(stage)

    def _save_ckpt(self, stage: str, df: DataFrame) -> DataFrame:
        if self._catalog is None:
            return df
        return self._catalog.save(
            df,
            stage,
            {"config": self.config.to_json(), "stage": stage},
            compression=CHECKPOINT_CODEC,
        )

    def _observe(self, stage: str, df: DataFrame, *extra: Column) -> DataFrame:
        """``df`` carrying the stage's ``rows`` count (and the ``extra``
        aggregates), filled in by the first action that runs it — no
        job of its own.

        An Observation keeps what its FIRST action computed, and a
        ``localCheckpoint(eager=False)`` is an action that computes
        nothing above its last exchange: observed rows fed straight into
        a lazy checkpoint report 0. So each stage observes the relation
        it returns, above its own lazy checkpoint, and a lazy
        checkpoint taken over a stage's output (the narrow signatures)
        reads the unobserved relation."""
        obs = Observation()
        self._observed.append((stage, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("rows"), *extra)

    @property
    def metrics(self) -> list[dict]:
        """``{stage, metric, value, ts}`` rows recorded so far. A stage's
        counts appear once an action has run the stage; observations
        still waiting for one are skipped (``Observation.get`` would
        block until an action runs)."""
        waiting = []
        for stage, obs in self._observed:
            if obs._jo.future().isCompleted():
                for name, value in obs.get.items():
                    self._metric(stage, name, value)
            else:
                waiting.append((stage, obs))
        self._observed = waiting
        return self._metrics

    def _metric(self, stage: str, name: str, value) -> None:
        self._metrics.append(
            {"stage": stage, "metric": name, "value": float(value), "ts": time.time()}
        )

    def metrics_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            self.metrics or [{"stage": "none", "metric": "none", "value": 0.0, "ts": 0.0}],
            "stage string, metric string, value double, ts double",
        )

    # ---------------- stages ----------------

    def _pages64(self, pages: DataFrame) -> DataFrame:
        """(id long, url, text): all internal stages key on
        ``xxhash64(url)`` — every shuffle row then carries an 8-byte id
        instead of a URL string (3-10x narrower candidate/edge shuffles;
        at 10^12 docs you would never shuffle URL strings). Collision
        odds at 10^12 docs are ~3e-2 pairs corpus-wide; urls are joined
        back onto the final outputs from the (id, url) dimension.

        The projection drops ``html`` (usually the widest column) before
        any stage logic; against the engine's real input (an
        Iceberg/parquet pages table) Catalyst pushes this pruning into
        the scan, so repeated consumers re-read only the url/text
        columns.
        """
        return pages.select(
            F.xxhash64(F.col("url")).alias("id"), "url", "text"
        )

    def _id_map(self, pages: DataFrame) -> DataFrame:
        return self._pages64(pages).select("id", "url")

    def tokens(self, pages: DataFrame) -> DataFrame:
        toks = normalized_tokens(
            self._pages64(pages), id_col="id", text_col="text"
        )
        if self.config.normalize_tokens and self.dictionary is not None:
            toks = self._symspell_normalize(toks)
        return toks

    def _symspell_normalize(self, toks: DataFrame) -> DataFrame:
        """Correct noisy tokens with the delete-key index before shingling
        (the north star's rebirth of SymSpell as candidate-generation).

        Only out-of-vocabulary tokens are corrected; the token -> corrected
        mapping is computed ONCE over distinct tokens and broadcast back.
        """
        distinct = toks.select(F.explode("tokens").alias("query")).distinct()
        oov = distinct.join(
            self.dictionary.words.select(F.col("term").alias("query")),
            "query",
            "left_anti",
        )
        corrections = lookup_batch(
            oov, self.dictionary, Verbosity.TOP
        ).select(F.col("query").alias("tok"), F.col("term").alias("corrected"))
        cmap = F.broadcast(corrections)
        exploded = toks.select(
            "id", F.posexplode("tokens").alias("pos", "tok")
        ).join(cmap, "tok", "left")
        return exploded.groupBy("id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", F.coalesce("corrected", "tok").alias("t"))
                    )
                ),
                lambda s: s["t"],
            ).alias("tokens")
        )

    def signatures(self, pages: DataFrame) -> DataFrame:
        if "signatures" in self._memo:
            return self._memo["signatures"]
        cached = self._load_ckpt("signatures")
        if cached is not None:
            cached = self._unpack_sig(cached)
            self._memo["signatures"] = self._memo["sig_plain"] = cached
            return cached
        from symspellpy_spark.operators.dedup import (
            text_to_signatures,
            tokens_to_signatures,
        )

        # narrow persisted relation: shingle_hashes is the
        # majority of signature bytes and its ONLY consumer is verify
        # phase 2 (which re-derives it for estimate survivors), and
        # neither the RDD localCheckpoint nor a parquet scan
        # column-prunes what the checkpoint row carries for the
        # banding/probing consumers. The kernel emits the packed-binary
        # minhash and omits shingles directly — no second Python stage.
        # narrowing applies to DISK checkpoints only: there the 2.5x
        # bytes-per-doc saving is real (written + stored + re-read),
        # while the in-memory localCheckpoint re-reads shingle arrays
        # from executor RAM nearly for free — measured at 60k docs,
        # re-deriving shingles at verify costs +8s of edges time and
        # saves nothing on the in-memory signatures stage
        narrow_kw = (
            {"emit_shingles": False, "pack_minhash": True}
            if self.checkpoint_dir is not None
            else {}
        )
        if self.config.normalize_tokens and self.dictionary is not None:
            # dictionary-corrected tokens exist as a real relation
            sig = tokens_to_signatures(
                self.tokens(pages),
                k=self.config.shingle_k,
                num_perm=self.config.num_perm,
                seed=self.config.minhash_seed,
                n_bands=self.config.bands,
                **narrow_kw,
            )
        else:
            # common path: tokenize inside the signature kernel — the
            # token-string relation (10-100x the text bytes) never exists;
            # the kernel also emits the fused substring/exact source columns
            sig = text_to_signatures(
                self._pages64(pages),
                k=self.config.shingle_k,
                num_perm=self.config.num_perm,
                seed=self.config.minhash_seed,
                n_bands=self.config.bands,
                substring_gram_len=self.config.substring_gram_len,
                substring_sample_mod=self.config.substring_sample_mod,
                emit_text_hash=True,
                **narrow_kw,
            )
        if self.checkpoint_dir is None:
            sig = sig.localCheckpoint(eager=False)
        sig = self._unpack_sig(self._save_ckpt("signatures", sig))
        self._memo["sig_plain"] = sig
        self._memo["signatures"] = self._observe("signatures", sig)
        return self._memo["signatures"]

    def _unpack_sig(self, sig: DataFrame) -> DataFrame:
        if "minhash_bin" not in sig.columns:
            return sig
        from symspellpy_spark.operators.dedup import unpack_hashes

        return sig.select(
            "id",
            unpack_hashes(F.col("minhash_bin")).alias("minhash"),
            "simhash",
            "bands",
            # fused candidate-source columns ride along when present
            *[c for c in ("sub_grams", "text_hash") if c in sig.columns],
        )

    def _signatures_narrow(self, pages: DataFrame) -> DataFrame:
        """(id, bands, simhash) — candidate generation reads THIS.

        RDD checkpoints (and wide shuffle rows) do not column-prune, so
        the band/block probing stages would otherwise deserialize the
        full shingle+minhash payload (~2-3KB/doc) once per consumer;
        the narrow relation is ~50B/doc."""
        if "sig_narrow" not in self._memo:
            self.signatures(pages)
            narrow = self._memo["sig_plain"].select("id", "bands", "simhash")
            if self.checkpoint_dir is None:
                narrow = narrow.localCheckpoint(eager=False)
            self._memo["sig_narrow"] = narrow
        return self._memo["sig_narrow"]

    def candidate_pairs(self, pages: DataFrame) -> DataFrame:
        c = self.config
        sig = self.signatures(pages)
        narrow = self._signatures_narrow(pages)
        pages64 = self._pages64(pages)
        # per-source dedup is skipped (dedupe/count_shared False): the
        # union below ends in a groupBy on the pair key, which is the
        # ONE deduplicating exchange — each source's own distinct would
        # re-shuffle its pair relation just to collapse rows the final
        # aggregation collapses anyway (guide §2.4: remove shuffles
        # outright; the map-side partial collect_set bounds what the
        # extra duplicate rows add to the surviving exchange)
        lsh = lsh_candidate_pairs(
            narrow,
            bands=c.bands,
            num_perm=c.num_perm,
            max_bucket_size=c.max_bucket_size,
            bands_col="bands",
            salted_bucket_cap=c.salted_bucket_cap,
            n_salt=c.n_salt,
            dedupe=False,
        ).select("id_a", "id_b", F.lit(SRC_LSH).alias("source"))
        sim = simhash_candidate_pairs(
            narrow,
            max_hamming=c.simhash_max_hamming,
            max_bucket_size=c.max_bucket_size,
            salted_bucket_cap=c.salted_bucket_cap,
            n_salt=c.n_salt,
            dedupe=False,
        ).select("id_a", "id_b", F.lit(SRC_SIMHASH).alias("source"))
        if "sub_grams" in sig.columns:
            # fused sources: substring grams + text hash were computed
            # inside the signature pass — no second text scan, no
            # second Python stage, and a signatures-checkpoint resume
            # regenerates candidates without touching the pages table
            sub = substring_pairs_from_grams(
                sig,
                max_bucket_size=c.max_bucket_size,
                salted_bucket_cap=c.salted_bucket_cap,
                n_salt=c.n_salt,
                count_shared=False,
            ).select("id_a", "id_b", F.lit(SRC_SUBSTRING).alias("source"))
            exact = (
                exact_duplicates_from_hash(sig)
                .where(F.col("id") != F.col("group_id"))
                .select(
                    F.col("group_id").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.lit(SRC_EXACT).alias("source"),
                )
            )
        else:
            sub = substring_fingerprint_pairs(
                pages64,
                id_col="id",
                gram_len=c.substring_gram_len,
                sample_mod=c.substring_sample_mod,
                max_bucket_size=c.max_bucket_size,
                salted_bucket_cap=c.salted_bucket_cap,
                n_salt=c.n_salt,
            ).select("id_a", "id_b", F.lit(SRC_SUBSTRING).alias("source"))
            exact = (
                exact_duplicates(pages64, id_col="id")
                .where(F.col("id") != F.col("group_id"))
                .select(
                    F.col("group_id").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.lit(SRC_EXACT).alias("source"),
                )
            )
        pairs = lsh.unionByName(sim).unionByName(sub).unionByName(exact)
        if c.use_winnowing:
            win = winnowing_candidate_pairs(
                pages64,
                k=c.winnow_k,
                window=c.winnow_window,
                id_col="id",
                max_bucket_size=c.max_bucket_size,
                salted_bucket_cap=c.salted_bucket_cap,
                n_salt=c.n_salt,
                count_shared=False,
            ).select("id_a", "id_b", F.lit(SRC_WINNOW).alias("source"))
            pairs = pairs.unionByName(win)
        # candidate rows are narrow; AQE would coalesce this exchange to
        # ~1 partition and serialize the dedup — pin a row-balanced
        # partitioning on the group keys (reused by the groupBy)
        pairs = pairs.repartition(
            self.spark.sparkContext.defaultParallelism * 2, "id_a", "id_b"
        )
        return pairs.groupBy("id_a", "id_b").agg(
            F.collect_set("source").alias("sources")
        )

    def edges(self, pages: DataFrame) -> DataFrame:
        if "edges" in self._memo:
            return self._memo["edges"]
        cached = self._load_ckpt("edges")
        if cached is not None:
            self._memo["edges"] = cached
            return cached
        sig = self.signatures(pages)
        # per-source recall attribution (a pair found by two sources
        # counts toward both) rides the same observation as the rows
        sources = CANDIDATE_SOURCES + (
            (SRC_WINNOW,) if self.config.use_winnowing else ()
        )
        pairs = self._observe(
            "candidates",
            self.candidate_pairs(pages).localCheckpoint(eager=False),
            *[
                F.count_if(F.array_contains("sources", s)).alias(f"source_{s}_pairs")
                for s in sources
            ],
        )
        hashes_df = None
        if "shingle_hashes" not in sig.columns:
            # narrow checkpoint: re-derive the shingle sets in one
            # tokenize+shingle Arrow pass; phase 2 joins them only for
            # estimate-surviving pairs
            from symspellpy_spark.operators.dedup import text_to_shingle_hashes

            hashes_df = text_to_shingle_hashes(
                self._pages64(pages), k=self.config.shingle_k
            )
        # two_phase: signatures are checkpointed here, so the extra
        # narrow-minhash join is a cheap re-scan and the fat shingle
        # arrays are only shuffled for pairs that survive the estimate
        verified = jaccard_verify(
            pairs, sig, threshold=self.config.jaccard_threshold, two_phase=True,
            hashes_df=hashes_df
        ).select("id_a", "id_b", "jaccard", "sources")
        # exact-substring / exact-hash pairs are kept even below the
        # Jaccard threshold: containment, not symmetric similarity
        containment = pairs.where(
            F.arrays_overlap(F.col("sources"), F.array(F.lit(SRC_SUBSTRING), F.lit(SRC_EXACT)))
        ).join(verified.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti").select(
            "id_a", "id_b", F.lit(None).cast("double").alias("jaccard"), "sources"
        )
        edges = verified.unionByName(containment)
        if self.checkpoint_dir is None:
            edges = edges.localCheckpoint(eager=False)
        self._memo["edges"] = self._observe("edges", self._save_ckpt("edges", edges))
        return self._memo["edges"]

    def clusters(self, pages: DataFrame, include_singletons: bool = False) -> DataFrame:
        e = self.edges(pages)
        verts = self._pages64(pages).select("id") if include_singletons else None
        cl = connected_components(e, vertices=verts)
        # map the 8-byte internal ids back to urls for the public output
        # (plain equi-join: AQE broadcasts the small side locally; at
        # 10^12 docs this is a shuffle join and correctly so)
        cl = cl.join(self._id_map(pages), "id").select("url", "cluster_id")
        # the output is narrow (url, cluster_id) but NOT a memoized
        # stage: without a checkpoint every consumer — a caller's
        # count, survivors() — re-executes the url-map join and the
        # label scan once each
        if self.checkpoint_dir is None:
            cl = cl.localCheckpoint(eager=False)
        return self._observe("clusters", cl)

    def survivors(self, pages: DataFrame) -> DataFrame:
        """The deduplicated corpus: one url per surviving page — every
        page in no duplicate cluster plus one deterministic
        representative per cluster (longest extracted text, ties ->
        smallest url). This is the pipeline's end product for a
        training-data consumer; the text of every surviving url is
        byte-identical to its input row (the pipeline never rewrites
        text)."""
        from symspellpy_spark.operators.cluster import select_canonical

        cl = self.clusters(pages)
        return self._observe("survivors", select_canonical(pages, cl, id_col="url"))

    def run(self, pages: DataFrame) -> dict[str, DataFrame]:
        """The stage outputs. Their counts reach ``metrics`` /
        ``metrics_df()`` as actions run them, so read those after
        acting on the outputs."""
        clusters = self.clusters(pages)
        return {
            "signatures": self.signatures(pages),
            "edges": self.edges(pages),
            "clusters": clusters,
        }
