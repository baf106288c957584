"""Round-4 work: the round-3 VERDICT/ADVICE fixes and the round's new
surfaces.

ADVICE fixes under test here:
- FileSet.with_updates must carry untouched legacy-pending buckets forward
  (the first post-upgrade commit was silently dropping every untouched
  bucket's file list — data loss).
- changes() must fall back to a full-bucket scan unless BOTH snapshots are
  pointer-format.
- expire_snapshots must never delete an in-flight commit's staging dir, and
  must fold commits that land mid-scan into the live set.
- the program future-window guard must accept string and tz-aware bounds.

New surfaces: distributed orphan scan, near-dup connected components +
survivors, pack_documents_split, token_frequency_stats heavy-hitter split,
simhash numpy backend, CDF update pre-images, ANN index writer.
"""

import datetime
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_input_marketo_spark.dispatch import TargetConfig, dispatch
from embulk_input_marketo_spark.lake import LakeTable
from embulk_input_marketo_spark.lake.merge import merge_batch

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                url=u,
                warc_ts=datetime.datetime(2024, 1, 1)
                + datetime.timedelta(seconds=ts),
                value=float(v),
                op=op,
                lsn=lsn,
            )
            for (u, ts, v, op, lsn) in rows
        ]
    )


def _legacyize(table: LakeTable, version: int | None = None) -> None:
    """Rewrite a committed manifest in the pre-round-3 legacy INLINE format
    (full per-bucket file lists in the snapshot JSON, no pointers) — the
    upgrade scenario the ADVICE data-loss bug lives in."""
    m = table.manifest(version)
    inline = {b: list(m.files[b]) for b in set(m.files)}
    d = {k: v for k, v in m.__dict__.items() if k != "files"}
    d["files"] = inline
    with open(table._manifest_path(m.version), "w") as f:
        f.write(json.dumps(d, indent=1, default=str))


class TestAdviceFixes:
    def test_legacy_manifest_merge_preserves_untouched_buckets(
        self, spark, tmp_path
    ):
        """Upgrade path: a legacy inline manifest loads with every bucket in
        `pending`. The first merge after upgrade touches ONE bucket — every
        other bucket's file list must survive into the new (pointer-format)
        manifest, not be silently dropped."""
        table = LakeTable.create(
            str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
            n_buckets=16,
        )
        merge_batch(
            spark, table,
            _batch(spark, [(f"u{i}", i, i, "U", i) for i in range(64)]),
            batch_id="seed", lsn_col="lsn", checkpoint={"hwm_lsn": 63},
        )
        _legacyize(table)
        m_legacy = table.manifest()
        assert m_legacy.files.pending and not m_legacy.files.ptrs  # is legacy
        n_buckets_before = len(set(m_legacy.files))
        assert n_buckets_before > 4

        merge_batch(
            spark, table,
            _batch(spark, [("u0", 100, 1.0, "U", 100)]),
            batch_id="one", lsn_col="lsn", checkpoint={"hwm_lsn": 100},
        )
        m1 = table.manifest()
        # migrated: fully pointer-format, no bucket lost
        assert not m1.files.pending
        assert len(set(m1.files)) == n_buckets_before
        rows = {r["url"]: r["value"] for r in table.read(spark).collect()}
        assert len(rows) == 64
        assert rows["u0"] == 1.0 and rows["u5"] == 5.0

    def test_changes_with_legacy_from_snapshot(self, spark, tmp_path):
        """CDF across a legacy inline `from` snapshot: the pointer diff is
        unavailable on one side, so all buckets must scan — the feed still
        reports exactly the real changes (LWW drops unchanged keys)."""
        table = LakeTable.create(
            str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
            n_buckets=8,
        )
        merge_batch(
            spark, table,
            _batch(spark, [(f"u{i}", i, i, "U", i) for i in range(20)]),
            batch_id="seed", lsn_col="lsn", checkpoint={"hwm_lsn": 19},
        )
        v1 = table.current_version()
        _legacyize(table, v1)
        merge_batch(
            spark, table,
            _batch(
                spark,
                [("u0", 100, 9.0, "U", 100), ("u7", 101, 0, "D", 101),
                 ("new1", 102, 1.0, "U", 102)],
            ),
            batch_id="b2", lsn_col="lsn", checkpoint={"hwm_lsn": 102},
        )
        v2 = table.current_version()
        feed = {
            r["url"]: r["_change"]
            for r in table.changes(spark, v1, v2).collect()
        }
        assert feed == {"u0": "update", "u7": "delete", "new1": "insert"}

    def test_expire_never_touches_inflight_staging(self, spark, tmp_path):
        """A commit in flight stages data under snap-<v> with v > the
        committed current version; expiry must not reclaim it even though no
        retained manifest references it yet."""
        table = LakeTable.create(
            str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
            n_buckets=4,
        )
        for i in range(3):
            merge_batch(
                spark, table, _batch(spark, [("k", i, i, "U", i)]),
                batch_id=f"b{i}", lsn_col="lsn", checkpoint={"hwm_lsn": i},
            )
        staging = table.snapshot_staging_dir(table.current_version() + 1)
        part = os.path.join(staging, "_bucket=0")
        os.makedirs(part)
        inflight = os.path.join(part, "part-inflight.parquet")
        with open(inflight, "wb") as f:
            f.write(b"parquet-bytes-of-an-uncommitted-batch")

        removed = table.expire_snapshots(keep_last=1)
        assert removed["manifests"] >= 1
        assert os.path.exists(inflight), (
            "expiry deleted an in-flight commit's staged data"
        )
        # the committed table still reads
        assert table.read(spark).count() == 1

    def test_expire_distributed_matches_and_driver_stays_top_level(
        self, spark, tmp_path, monkeypatch
    ):
        """The spark-backed orphan scan reclaims the same garbage AND the
        driver's own listing work stays O(snapshots): it lists only the
        meta/data roots, never descending into per-snapshot part dirs (the
        walk + side-file reads run in executors)."""
        from embulk_input_marketo_spark.lake import fsio

        table = LakeTable.create(
            str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
            n_buckets=4,
        )
        for i in range(5):
            merge_batch(
                spark, table,
                _batch(spark, [(f"k{j}", i * 10 + j, i, "U", i * 10 + j)
                               for j in range(8)]),
                batch_id=f"b{i}", lsn_col="lsn", compact_threshold=2,
                checkpoint={"hwm_lsn": i * 10 + 7},
            )
        before = {r["url"]: r["value"] for r in table.read(spark).collect()}

        driver_listed: list[str] = []
        real_list_dir = fsio.list_dir

        def recording_list_dir(path):
            driver_listed.append(os.path.abspath(path))
            return real_list_dir(path)

        monkeypatch.setattr(fsio, "list_dir", recording_list_dir)
        removed = table.expire_snapshots(keep_last=2, spark=spark)
        monkeypatch.undo()

        assert removed["manifests"] >= 4  # merges + compactions, keep 2
        assert removed["data_files"] > 0
        allowed = {
            os.path.abspath(table.meta_dir), os.path.abspath(table.data_dir)
        }
        # driver-side fsio listing touched only the two roots — the
        # per-snapshot walk happened in executor processes (which re-import
        # fsio unpatched), so nothing deeper shows up here
        assert set(driver_listed) <= allowed, driver_listed
        after = {r["url"]: r["value"] for r in table.read(spark).collect()}
        assert after == before
        # time travel within the retained window still works
        assert table.read(
            spark, version=table.current_version() - 1
        ).count() == 8

    def test_program_future_window_accepts_string_and_aware_bounds(
        self, spark
    ):
        from embulk_input_marketo_spark import generator

        log = generator.changelog(spark, 500, 50, seed=5,
                                  duplicate_fraction=0.0)

        # ISO-string bounds in the far future → skip (empty), no TypeError
        cfg = TargetConfig(
            target="program", from_lsn=-1,
            extra={"earliest_updated_at": "2124-01-01T00:00:00",
                   "latest_updated_at": "2124-01-02T00:00:00"},
        )
        assert dispatch(spark, log, cfg).count() == 0

        # tz-aware bounds in the future → skip, no naive/aware TypeError
        aware = datetime.datetime(2124, 1, 1, tzinfo=datetime.timezone.utc)
        cfg = TargetConfig(
            target="program", from_lsn=-1,
            extra={"earliest_updated_at": aware,
                   "latest_updated_at": aware + datetime.timedelta(days=1)},
        )
        assert dispatch(spark, log, cfg).count() == 0

        # aware bounds with a NAIVE pinned now: awareness is normalized, and
        # a past window emits rows
        lo = datetime.datetime(2000, 1, 1, tzinfo=datetime.timezone.utc)
        hi = datetime.datetime(2100, 1, 1, tzinfo=datetime.timezone.utc)
        cfg = TargetConfig(
            target="program", from_lsn=-1,
            extra={"earliest_updated_at": lo, "latest_updated_at": hi,
                   "now": datetime.datetime(2101, 1, 1)},
        )
        assert dispatch(spark, log, cfg).count() > 0


def _uf_components(pairs):
    """Reference union-find on the driver — ground truth for the distributed
    large-star/small-star pass (test-only; this is exactly the thing the
    operator exists to avoid doing at scale)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class TestNearDupComponents:
    def test_chain_converges_to_one_component(self, spark):
        """A long path graph (a-b, b-c, ...) is the worst case for naive
        label propagation (diameter rounds); large-star/small-star must
        still collapse it to one min-labelled component within the round
        budget."""
        from embulk_input_marketo_spark.operators.dedup_docs import (
            near_dup_components,
        )

        n = 65
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "left_id long, right_id long"
        )
        out = near_dup_components(pairs).collect()
        assert len(out) == n
        assert {r["component_id"] for r in out} == {0}

    def test_random_graph_matches_union_find(self, spark):
        """Components of a seeded random graph (mix of cliques, chains and
        singletim edges) match a driver union-find exactly."""
        import random

        from embulk_input_marketo_spark.operators.dedup_docs import (
            near_dup_components,
        )

        rng = random.Random(1234)
        edges = set()
        for _ in range(300):
            a, b = rng.randrange(200), rng.randrange(200)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        # feed some edges reversed and duplicated: the operator must
        # canonicalize
        feed = [(a, b) for a, b in edges] + [
            (b, a) for a, b in list(edges)[::3]
        ]
        pairs = spark.createDataFrame(feed, "left_id long, right_id long")
        got = {
            r["doc_id"]: r["component_id"]
            for r in near_dup_components(pairs).collect()
        }
        assert got == _uf_components(edges)

    def test_survivor_policies(self, spark):
        """min-id policy keeps the component label; quality policy keeps the
        best-quality member (ties → min id); singletons always survive."""
        from embulk_input_marketo_spark.operators.dedup_docs import (
            near_dup_survivors,
        )

        docs = spark.createDataFrame(
            [(1, 0.1), (2, 0.9), (3, 0.9), (4, 0.5), (9, 0.2)],
            "doc_id long, quality double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "left_id long, right_id long"
        )
        by_id = {
            r["doc_id"]: (r["component_id"], r["keep"])
            for r in near_dup_survivors(docs, pairs).collect()
        }
        assert by_id == {
            1: (1, True), 2: (1, False), 3: (1, False),
            4: (4, True), 9: (9, True),
        }
        by_q = {
            r["doc_id"]: (r["component_id"], r["keep"])
            for r in near_dup_survivors(
                docs, pairs, quality_col="quality"
            ).collect()
        }
        assert by_q == {
            1: (1, False), 2: (1, True), 3: (1, False),  # tie 2 vs 3 → min id
            4: (4, True), 9: (9, True),
        }


class TestPackDocumentsSplit:
    def test_split_identical_to_plain(self, spark, sf_dir):
        """pack_documents_split must assign bit-identical bins to the plain
        single-window form — per stratum AND in the strata-less (whole
        corpus through one window) case — with ids_per_bucket small enough
        that many carry merges happen."""
        from embulk_input_marketo_spark.operators.sampling import (
            pack_documents, pack_documents_split,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for strata in ["lang", None]:
            plain = {
                tuple(r) for r in pack_documents(
                    docs, budget_tokens=512, strata_col=strata
                ).collect()
            }
            split = {
                tuple(r) for r in pack_documents_split(
                    docs, budget_tokens=512, strata_col=strata,
                    ids_per_bucket=37,
                ).collect()
            }
            assert split == plain, f"strata={strata}"

    def test_split_sparse_nonuniform_ids(self, spark):
        """Exactness does not depend on dense ids: sparse, clustered ids with
        oversized documents (longer than the budget) still bin identically."""
        from embulk_input_marketo_spark.operators.sampling import (
            pack_documents, pack_documents_split,
        )

        rows = [
            (i * 13 + (i % 5) * 1000, "s" + str(i % 2), (i % 7 + 1) * 300)
            for i in range(200)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, toks long"
        )
        plain = {
            tuple(r) for r in pack_documents(
                df, budget_tokens=500, strata_col="lang", token_col="toks"
            ).collect()
        }
        split = {
            tuple(r) for r in pack_documents_split(
                df, budget_tokens=500, strata_col="lang", token_col="toks",
                ids_per_bucket=50,
            ).collect()
        }
        assert split == plain


class TestTokenFrequencyHeavyHitters:
    def test_split_matches_plain_on_zipf_fixture(self, spark):
        """The heavy-hitter broadcast split must return identical stats to
        the plain co-partitioned join on a skewed (one dominating token)
        corpus — including when the cutoff lands mid-vocabulary."""
        from embulk_input_marketo_spark.functions.textops import (
            token_frequency_stats,
        )

        docs = spark.range(400).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("the the the the of of "),
                F.col("id").cast("string"),
                F.lit(" tail"),
                (F.col("id") % 7).cast("string"),
            ).alias("text"),
        )
        plain = {
            tuple(r)
            for r in token_frequency_stats(docs, heavy_hitters=0).collect()
        }
        for k in (1, 2, 5, 10_000):
            split = {
                tuple(r)
                for r in token_frequency_stats(
                    docs, heavy_hitters=k
                ).collect()
            }
            assert split == plain, f"heavy_hitters={k}"

    def test_hot_tokens_take_broadcast_join(self, spark):
        """Plan audit: with the split on, the occurrence stream's hot branch
        joins the top-K counts via BroadcastHashJoin (no shuffle keyed by
        word for those rows) and the top-K selection itself plans as
        TakeOrderedAndProject, not a global sort."""
        from embulk_input_marketo_spark.functions.textops import (
            token_frequency_stats,
        )

        docs = spark.range(50).select(
            F.col("id").alias("doc_id"),
            F.lit("a b c d").alias("text"),
        )
        plan = token_frequency_stats(docs)._jdf.queryExecution().toString()
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan


class TestAnnIndexLayout:
    def test_indexed_matches_inline_and_prunes(self, spark, sf_dir, tmp_path):
        """write_ann_index → ann_topk_indexed returns exactly what the
        inline ann_topk computes with the same parameters, AND the index
        scan physically reads only the probed (_tbl,_sig) partitions —
        checked from the files the executed scan actually touched."""
        from embulk_input_marketo_spark.functions.similarity import (
            ann_topk, ann_topk_indexed, read_ann_index, write_ann_index,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dim = len(emb.select("embedding").first()["embedding"])
        queries = emb.where(F.col("vec_id") % 37 == 0).limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        params = dict(dim=dim, n_planes=4, n_tables=2, seed=42)
        idx_path = str(tmp_path / "ann_idx")
        write_ann_index(emb, idx_path, **params)

        inline = {
            tuple(r)
            for r in ann_topk(
                emb, queries, k=5, probe_bits=1, **params
            ).collect()
        }
        indexed = {
            tuple(r)
            for r in ann_topk_indexed(
                spark, idx_path, queries, k=5, probe_bits=1
            ).collect()
        }
        assert indexed == inline and len(indexed) > 0

        # pruning: executed scan touches only probed partition dirs
        index, meta = read_ann_index(spark, idx_path)
        all_parts = {
            (r["_tbl"], r["_sig"])
            for r in index.select("_tbl", "_sig").distinct().collect()
        }
        probed = ann_topk_indexed(
            spark, idx_path, queries.limit(1), k=5, probe_bits=0
        )
        # re-derive which files the pruned plan reads: input_file_name on
        # the same pruned scan the query runs
        one_q = queries.limit(1)
        from embulk_input_marketo_spark.functions.similarity import (
            _probe_masks, lsh_signature,
        )

        sigrow = one_q.select(
            *[
                lsh_signature(
                    F.col("embedding"), dim, 4, 42 + 7919 * t
                ).alias(f"s{t}")
                for t in range(2)
            ]
        ).first()
        probe_keys = {(t, sigrow[f"s{t}"]) for t in range(2)}
        pred = F.lit(False)
        for t, s in sorted(probe_keys):
            pred = pred | ((F.col("_tbl") == t) & (F.col("_sig") == s))
        touched = {
            r["f"]
            for r in index.where(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        assert len(probed.collect()) > 0
        assert all(
            any(f"_tbl={t}/_sig={s}" in f for (t, s) in probe_keys)
            for f in touched
        ), touched
        assert len(probe_keys) < len(all_parts)  # pruning is non-vacuous


class TestCdfPreimages:
    def test_update_preimage_pair(self, spark, tmp_path):
        """include_preimage=True: an update emits its OLD row as
        update_preimage and its NEW row as update_postimage; inserts and
        deletes are unchanged single rows."""
        table = LakeTable.create(
            str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
            n_buckets=4,
        )
        merge_batch(
            spark, table,
            _batch(spark, [("a", 1, 1.0, "U", 1), ("b", 1, 2.0, "U", 2)]),
            batch_id="b1", lsn_col="lsn", checkpoint={"hwm_lsn": 2},
        )
        v1 = table.current_version()
        merge_batch(
            spark, table,
            _batch(spark, [("a", 10, 9.0, "U", 10), ("b", 11, 0, "D", 11),
                           ("c", 12, 3.0, "U", 12)]),
            batch_id="b2", lsn_col="lsn", checkpoint={"hwm_lsn": 12},
        )
        rows = {
            (r["url"], r["_change"]): r["value"]
            for r in table.changes(
                spark, v1, include_preimage=True
            ).collect()
        }
        assert rows == {
            ("a", "update_preimage"): 1.0,
            ("a", "update_postimage"): 9.0,
            ("b", "delete"): 2.0,
            ("c", "insert"): 3.0,
        }
        # default shape unchanged: one row per key, kind 'update'
        plain = {
            (r["url"], r["_change"]): r["value"]
            for r in table.changes(spark, v1).collect()
        }
        assert plain == {
            ("a", "update"): 9.0, ("b", "delete"): 2.0, ("c", "insert"): 3.0,
        }


class TestPiiAndBpe:
    def test_pii_redact_order_and_counts(self, spark):
        """Emails are redacted before IPs/phones, so their digit-and-dot
        innards never double-count; counts describe exactly what redaction
        removed."""
        from embulk_input_marketo_spark.functions.textops import (
            pii_counts, pii_redact,
        )

        df = spark.createDataFrame(
            [(1, "mail bob.1@h-q.example.com ip 10.0.0.1 tel +1 555 0102"),
             (2, "nothing here"),
             (3, "10.0.0.1@ex.com twice 10.0.0.1")],
            "id long, text string",
        )
        c = pii_counts("text")
        out = {
            r["id"]: r
            for r in df.select(
                "id", c["n_email"].alias("e"), c["n_ip"].alias("i"),
                c["n_phone"].alias("p"),
                pii_redact("text").alias("red"),
            ).collect()
        }
        assert (out[1]["e"], out[1]["i"], out[1]["p"]) == (1, 1, 1)
        assert out[1]["red"] == "mail <EMAIL> ip <IP> tel <PHONE>"
        assert (out[2]["e"], out[2]["i"], out[2]["p"]) == (0, 0, 0)
        # the ip-looking local part is consumed by the email pass; only the
        # standalone ip remains for the ip pass
        assert (out[3]["e"], out[3]["i"]) == (1, 1)
        assert out[3]["red"] == "<EMAIL> twice <IP>"

    def test_bpe_token_count_units(self, spark):
        from embulk_input_marketo_spark.functions.textops import (
            bpe_token_count, token_count,
        )

        df = spark.createDataFrame(
            [(1, "Hello, world! v2.0 here"), (2, ""), (3, "   ")],
            "id long, text string",
        )
        rows = {
            r["id"]: (r["ws"], r["bpe"])
            for r in df.select(
                "id",
                token_count("text").alias("ws"),
                bpe_token_count("text").alias("bpe"),
            ).collect()
        }
        # Hello , world ! v 2 . 0 here -> 9 pre-tokens vs 4 ws tokens
        assert rows[1] == (4, 9)
        assert rows[2] == (0, 0) and rows[3] == (0, 0)


class TestCdfCompactionSkip:
    def test_changes_skip_compaction_only_buckets(self, spark, tmp_path):
        """A compaction-only commit rewrites buckets without changing their
        logical state: the CDF across it must emit nothing AND read nothing
        (no parquet scan in the plan), while a mixed chain still reports the
        real changes."""
        from embulk_input_marketo_spark.lake.merge import compact_buckets

        table = LakeTable.create(
            str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
            n_buckets=4,
        )
        # two delta generations so compaction has something to fold
        merge_batch(
            spark, table,
            _batch(spark, [(f"u{i}", i, i, "U", i) for i in range(12)]),
            batch_id="b1", lsn_col="lsn", checkpoint={"hwm_lsn": 11},
        )
        merge_batch(
            spark, table,
            _batch(spark, [(f"u{i}", 20 + i, 100 + i, "U", 20 + i)
                           for i in range(12)]),
            batch_id="b2", lsn_col="lsn", checkpoint={"hwm_lsn": 31},
        )
        v_pre = table.current_version()
        touched = sorted(int(b) for b in set(table.manifest().files))
        compact_buckets(spark, table, touched)
        v_post = table.current_version()

        feed = table.changes(spark, v_pre, v_post)
        assert feed.count() == 0
        plan = feed._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" not in plan and "FileScan" not in plan, (
            "compaction-only CDF still planned a data read"
        )

        # mixed chain (compact + merge): the real change is still reported
        merge_batch(
            spark, table,
            _batch(spark, [("u0", 99, 999.0, "U", 99)]),
            batch_id="b3", lsn_col="lsn", checkpoint={"hwm_lsn": 99},
        )
        rows = {
            (r["url"], r["_change"]): r["value"]
            for r in table.changes(spark, v_pre).collect()
        }
        assert rows == {("u0", "update"): 999.0}


class TestSimhashNumpyBackend:
    def test_simhash_numpy_equals_expressions(self, spark, sf_dir):
        """The numpy backend must produce BIT-IDENTICAL 64-bit signatures to
        the interpreted expression form on real corpus text (the same pin
        the minhash backends carry)."""
        from embulk_input_marketo_spark.operators.dedup_docs import simhash

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        ).limit(300)
        ex = {r["doc_id"]: r["simhash"]
              for r in simhash(docs, accel="expr").collect()}
        np_ = {r["doc_id"]: r["simhash"]
               for r in simhash(docs, accel="np").collect()}
        assert ex == np_ and len(ex) == 300

    def test_simhash_numpy_edge_rows(self, spark):
        """Empty and whitespace-only docs: both backends agree (the empty
        shingle set folds to an all-zero signature on both paths)."""
        from embulk_input_marketo_spark.operators.dedup_docs import simhash

        docs = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "one"), (4, "two words here")],
            "doc_id long, text string",
        )
        ex = {r["doc_id"]: r["simhash"]
              for r in simhash(docs, accel="expr").collect()}
        np_ = {r["doc_id"]: r["simhash"]
               for r in simhash(docs, accel="np").collect()}
        assert ex == np_


class TestManifestFileStats:
    """Write-time per-file key ranges in the manifest (Iceberg column
    stats): the point-lookup path skips whole FILES before planning any
    scan — on top of bucket pruning, which can't help inside one bucket."""

    def test_lookup_skips_files_by_key_range(self, spark, tmp_path):
        # n_buckets=1: bucket pruning is moot, only file stats can prune.
        # Two MoR generations with DISJOINT key ranges land as two files.
        table = LakeTable.create(
            str(tmp_path / "t"), SCHEMA, key_col="url",
            lww_major="warc_ts", n_buckets=1,
        )
        merge_batch(
            spark, table,
            _batch(spark, [(f"a{i}", i, i, "U", i) for i in range(5)]),
            batch_id="lo", lsn_col="lsn", compact_threshold=100,
        )
        merge_batch(
            spark, table,
            _batch(spark, [(f"z{i}", 50 + i, 50 + i, "U", 50 + i)
                           for i in range(5)]),
            batch_id="hi", lsn_col="lsn", compact_threshold=100,
        )
        entries = table.manifest().files["0"]
        assert len(entries) == 2
        assert all("kmin" in e and "kmax" in e for e in entries)

        got = table.lookup(spark, "a3")
        assert [(r["url"], r["value"]) for r in got.collect()] == [
            ("a3", 3.0)
        ]
        # the z-range file is skipped at PLANNING time
        assert len(got.inputFiles()) == 1
        # a full read still sees both files
        assert len(table.read(spark).inputFiles()) == 2
        # a key outside every range reads nothing at all
        assert table.lookup(spark, "m5").count() == 0
        assert len(table.lookup(spark, "m5").inputFiles()) == 0

    def test_lookup_correct_when_key_updated_across_generations(
        self, spark, tmp_path
    ):
        # LWW across generations must survive the skip: both files contain
        # the key, so neither may be skipped and the newer row wins
        table = LakeTable.create(
            str(tmp_path / "t2"), SCHEMA, key_col="url",
            lww_major="warc_ts", n_buckets=1,
        )
        merge_batch(
            spark, table,
            _batch(spark, [("k1", 1, 1, "U", 1), ("k9", 2, 2, "U", 2)]),
            batch_id="g1", lsn_col="lsn", compact_threshold=100,
        )
        merge_batch(
            spark, table,
            _batch(spark, [("k5", 10, 99, "U", 10)]),
            batch_id="g2", lsn_col="lsn", compact_threshold=100,
        )
        # k5 only exists in generation 2 (range k5..k5): gen-1 file
        # (k1..k9) still COVERS k5, so it is read and LWW still holds
        assert [(r["url"], r["value"])
                for r in table.lookup(spark, "k5").collect()] == [
            ("k5", 99.0)
        ]


class TestDeriveAfterExchange:
    """merge_batch(derive=...): derived schema columns compute ABOVE the
    bucket exchange, in the write tasks — the shuffle moves a placeholder,
    not the materialized value (the bandwidth win replay uses for derived
    text). Values must be identical to pre-computing them."""

    HSCHEMA = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def _hbatch(self, spark, n, lsn0=0):
        return spark.createDataFrame(
            [
                Row(
                    url=f"u{i % 7}",
                    warc_ts=datetime.datetime(2024, 1, 1)
                    + datetime.timedelta(seconds=lsn0 + i),
                    html=f"<body>doc {lsn0 + i}</body>".encode(),
                    text=None,  # placeholder: real value derived in-merge
                    op="U",
                    lsn=lsn0 + i,
                )
                for i in range(n)
            ],
            schema=T.StructType(
                self.HSCHEMA.fields
                + [T.StructField("op", T.StringType()),
                   T.StructField("lsn", T.LongType())]
            ),
        )

    def test_plan_puts_udf_eval_above_exchange(self, spark):
        """The construction merge_batch uses — repartition(_b) then
        withColumn(udf) — must plan the Python eval node on the write side
        of the Exchange (top of toString), or the 'win' ships full text."""
        from embulk_input_marketo_spark.functions.textops import extract_text

        df = spark.range(64).select(
            F.concat(F.lit("<body>t"), F.col("id").cast("string"),
                     F.lit("</body>")).alias("html"),
            (F.col("id") % 8).alias("_b"),
        )
        shaped = df.repartition(F.col("_b")).withColumn(
            "text", extract_text(F.col("html"))
        )
        plan = shaped._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
        udf_node = "ArrowEvalPython" if "ArrowEvalPython" in plan else "EvalPython"
        assert udf_node in plan
        assert plan.index(udf_node) < plan.index("Exchange")

    def test_mor_derive_matches_precomputed(self, spark, tmp_path):
        from embulk_input_marketo_spark.functions.textops import extract_text

        t_derive = LakeTable.create(
            str(tmp_path / "d"), self.HSCHEMA, key_col="url",
            lww_major="warc_ts", n_buckets=4,
        )
        merge_batch(
            spark, t_derive, self._hbatch(spark, 40),
            batch_id="b0", lsn_col="lsn",
            derive={"text": extract_text(F.col("html"))},
        )
        # second generation so the read-time LWW reduce also sees derived rows
        merge_batch(
            spark, t_derive, self._hbatch(spark, 10, lsn0=40),
            batch_id="b1", lsn_col="lsn",
            derive={"text": extract_text(F.col("html"))},
        )
        pre = self._hbatch(spark, 40).unionByName(
            self._hbatch(spark, 10, lsn0=40)
        ).withColumn("text", extract_text(F.col("html")))
        from embulk_input_marketo_spark.operators.dedup import lww_dedup

        expected = {
            r["url"]: r["text"]
            for r in lww_dedup(pre, key_cols="url",
                               order_cols=["warc_ts", "lsn"]).collect()
        }
        got = {r["url"]: r["text"] for r in t_derive.read(spark).collect()}
        assert got == expected
        assert all(v and v.startswith("doc ") for v in got.values())

    def test_cow_derive_materializes_before_fold(self, spark, tmp_path):
        from embulk_input_marketo_spark.functions.textops import extract_text

        t = LakeTable.create(
            str(tmp_path / "c"), self.HSCHEMA, key_col="url",
            lww_major="warc_ts", n_buckets=4,
        )
        merge_batch(
            spark, t, self._hbatch(spark, 12),
            batch_id="b0", lsn_col="lsn", mode="cow",
            derive={"text": extract_text(F.col("html"))},
        )
        got = {r["url"]: r["text"] for r in t.read(spark).collect()}
        assert got and all(v and v.startswith("doc ") for v in got.values())

    def test_unknown_derive_target_raises(self, spark, tmp_path):
        t = LakeTable.create(
            str(tmp_path / "u"), self.HSCHEMA, key_col="url",
            lww_major="warc_ts", n_buckets=2,
        )
        with pytest.raises(ValueError, match="not current-schema"):
            merge_batch(
                spark, t, self._hbatch(spark, 4),
                batch_id="b0", lsn_col="lsn",
                derive={"nope": F.lit("x")},
            )

    def test_derive_key_or_major_raises(self, spark, tmp_path):
        t = LakeTable.create(
            str(tmp_path / "k"), self.HSCHEMA, key_col="url",
            lww_major="warc_ts", n_buckets=2,
        )
        with pytest.raises(ValueError, match="merge key or lww major"):
            merge_batch(
                spark, t, self._hbatch(spark, 4),
                batch_id="b0", lsn_col="lsn",
                derive={"url": F.lower(F.col("url"))},
            )


class TestGranuleHotBucketSplit:
    """The write exchange splits a byte-heavy bucket across granules
    (hot-key salting at the layout stage) so no single write task owns the
    whole zipf-hot bucket; reads stay correct because a bucket may hold any
    number of MoR generations."""

    def test_heavy_bucket_spreads_over_tasks(self, spark):
        from embulk_input_marketo_spark.lake.merge import _granule_exchange

        n_buckets = 8
        # bucket 3 is 10x every other bucket by weight AND by rows
        rows = []
        lsn = 0
        for b in range(n_buckets):
            n = 20_000 if b == 3 else 2_000
            for i in range(n):
                rows.append((b, lsn))
                lsn += 1
        df = spark.createDataFrame(rows, "_b int, _lsn long")
        weights = {str(b): (10_000 if b == 3 else 1_000)
                   for b in range(n_buckets)}
        out, split = _granule_exchange(spark, df, n_buckets, weights=weights)
        assert split == {3}
        sizes = (
            out.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
        )
        total = sum(sizes)
        assert total == len(rows)
        # without the split one task owns all 20k hot rows; with it the
        # hot bucket spreads, so the max task is well under that
        assert max(sizes) < 20_000, sizes
        # and every row still lands in a granule that writes its bucket:
        # bucket/row assignment must be a pure function of (_b, _lsn)
        again, _ = _granule_exchange(spark, df, n_buckets, weights=weights)
        s2 = again.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
        assert sorted(sizes) == sorted(s2)

    def test_uniform_weights_keep_one_file_per_bucket(self, spark, tmp_path):
        """No split without a heavy bucket: once byte history exists and is
        uniform, a merge commit writes exactly one file per touched bucket.
        The FIRST commit (no history) hedges with a blanket 2-way split —
        cold-start zipf protection — so it may write up to two."""
        schema = T.StructType([
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
        ])
        t = LakeTable.create(str(tmp_path / "t"), schema, key_col="url",
                             lww_major="warc_ts", n_buckets=4)
        ts = datetime.datetime(2026, 1, 1)
        batch = spark.createDataFrame(
            [(f"u{i}", ts, "I", i) for i in range(400)],
            "url string, warc_ts timestamp, op string, _lsn long",
        )
        merge_batch(spark, t, batch, batch_id="b1")
        m1 = t.manifest()
        for b in set(m1.files):
            assert 1 <= len(m1.files[b]) <= 2, (b, m1.files[b])
        batch2 = spark.createDataFrame(
            [(f"u{i}", ts, "U", 1000 + i) for i in range(400)],
            "url string, warc_ts timestamp, op string, _lsn long",
        )
        merge_batch(spark, t, batch2, batch_id="b2")
        m2 = t.manifest()
        for b in set(m2.files):
            new = [e for e in m2.files[b] if int(e["v"]) == m2.version]
            assert len(new) == 1, (b, new)

    def test_split_commit_reads_back_correct(self, spark, tmp_path):
        """A commit whose hot bucket wrote several delta files LWW-reads
        identically to the unsplit equivalent."""
        schema = T.StructType([
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
        ])
        t = LakeTable.create(str(tmp_path / "t"), schema, key_col="url",
                             lww_major="warc_ts", n_buckets=4)
        ts = datetime.datetime(2026, 1, 1)
        # seed bucket_bytes skew: one hot url updated many times
        b1 = spark.createDataFrame(
            [("hot", ts, "I", 0)] + [(f"u{i}", ts, "I", i) for i in range(1, 40)],
            "url string, warc_ts timestamp, op string, _lsn long",
        )
        merge_batch(spark, t, b1, batch_id="b1")
        # inflate the hot url's bucket weight directly (proxy for history)
        m = t.manifest()
        hot_bucket = spark.createDataFrame([("hot",)], "url string").select(
            F.pmod(F.xxhash64("url"), F.lit(m.n_buckets)).cast("int").alias("b")
        ).collect()[0]["b"]
        b2 = spark.createDataFrame(
            [("hot", ts + datetime.timedelta(seconds=i), "U", 100 + i)
             for i in range(2_000)]
            + [(f"v{i}", ts, "I", 10_000 + i) for i in range(40)],
            "url string, warc_ts timestamp, op string, _lsn long",
        )
        # fake a dominant weight so the exchange splits the hot bucket
        m2 = t.manifest()
        m2.bucket_bytes.update({str(hot_bucket): 10_000_000})
        # (merge_batch re-reads the manifest; persist the skewed weights)
        import json as _json
        import os as _os
        mp = t._manifest_path(m2.version)
        _os.remove(mp)
        with open(mp, "w") as f:
            f.write(m2.to_json())
        merge_batch(spark, t, b2, batch_id="b2")
        got = {
            (r["url"], r["warc_ts"])
            for r in t.read(spark).where(F.col("url") == "hot").collect()
        }
        assert got == {("hot", ts + datetime.timedelta(seconds=1999))}
        mm = t.manifest()
        hot_files = [
            e for e in mm.files[str(hot_bucket)] if int(e["v"]) == mm.version
        ]
        assert len(hot_files) > 1, "expected the hot bucket to split"


def test_sample_k_per_stratum_exact_and_split_safe(spark):
    """Fixed-count sampling: exactly min(k, |stratum|) per stratum, the
    two-stage bounded top-k identical to a single global window, monotone
    in k, deterministic across repartitioning."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from embulk_input_marketo_spark.operators.sampling import (
        sample_draw_long,
        sample_k_per_stratum,
    )

    rows = [(i, "big" if i % 10 else "small") for i in range(1, 501)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    # "small" has 50 members, "big" 450; k between the two sizes
    out = sample_k_per_stratum(df, "lang", k=60, key_col="doc_id", seed=7)
    got = out.groupBy("lang").count().collect()
    assert {r["lang"]: r["count"] for r in got} == {"big": 60, "small": 50}
    # ranks are 1..n per stratum, no gaps
    ranks = {
        (r["lang"], r["sample_rank"]) for r in out.collect()
    }
    assert all((lang, i) in ranks
               for lang, n in (("big", 60), ("small", 50))
               for i in range(1, n + 1))

    # split result == plain single-window reference (the spec)
    ref = (
        df.withColumn("_d", sample_draw_long("doc_id", 7))
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("_d").asc(), F.col("doc_id").asc()
                )
            ),
        )
        .where(F.col("r") <= 60)
    )
    assert {(r["lang"], r["doc_id"], r["r"]) for r in ref.collect()} == {
        (r["lang"], r["doc_id"], r["sample_rank"]) for r in out.collect()
    }

    # monotone in k: the k=20 set is a prefix of the k=60 set
    small = {
        (r["lang"], r["doc_id"])
        for r in sample_k_per_stratum(
            df, "lang", k=20, key_col="doc_id", seed=7
        ).collect()
    }
    big = {(r["lang"], r["doc_id"]) for r in out.collect()}
    assert small < big

    # stable under repartitioning
    re = {
        (r["lang"], r["doc_id"], r["sample_rank"])
        for r in sample_k_per_stratum(
            df.repartition(13), "lang", k=60, key_col="doc_id", seed=7
        ).collect()
    }
    assert re == {(r["lang"], r["doc_id"], r["sample_rank"]) for r in out.collect()}


def test_assign_split_bands_and_stability(spark):
    """Every row lands in exactly one split; bands follow dict order with
    the float edge absorbed by the last; membership is a pure function of
    (key, seed) so repartitioning cannot move a row; bad fractions raise."""
    import pytest

    from embulk_input_marketo_spark.operators.sampling import (
        assign_split,
        sample_draw,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(1, 401)], ["doc_id"]
    )
    fr = {"train": 0.75, "valid": 0.125, "test": 0.125}
    out = assign_split(df, fr, key_col="doc_id", seed=7)
    rows = out.withColumn("_d", sample_draw("doc_id", 7)).collect()
    assert len(rows) == 400  # total function: nothing dropped or doubled
    for r in rows:
        want = ("train" if r["_d"] < 0.75
                else "valid" if r["_d"] < 0.875 else "test")
        assert r["split"] == want, (r["doc_id"], r["_d"], r["split"])
    counts = {r["split"] for r in rows}
    assert counts == {"train", "valid", "test"}  # 400 draws hit all bands

    re = {(r["doc_id"], r["split"])
          for r in assign_split(
              df.repartition(11), fr, key_col="doc_id", seed=7
          ).collect()}
    assert re == {(r["doc_id"], r["split"]) for r in rows}

    # widening an earlier band only moves rows BACKWARD in band order
    wide = {r["doc_id"]: r["split"]
            for r in assign_split(
                df, {"train": 0.875, "valid": 0.0625, "test": 0.0625},
                key_col="doc_id", seed=7,
            ).collect()}
    order = {"train": 0, "valid": 1, "test": 2}
    for r in rows:
        assert order[wide[r["doc_id"]]] <= order[r["split"]]

    with pytest.raises(ValueError):
        assign_split(df, {"train": 0.5, "test": 0.4})
    with pytest.raises(ValueError):
        assign_split(df, {})
    with pytest.raises(ValueError):
        assign_split(df, {"a": 1.5, "b": -0.5})
