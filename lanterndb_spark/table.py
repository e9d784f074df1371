"""LanternTable — the user-facing surface that makes switching from the
reference a one-object affair.

In the reference a user has a Postgres table, creates indexes/side
tables on it (``CREATE INDEX USING lantern_hnsw``, ``create_pq_codebook``,
``create_bm25_table``), and queries with operators (``ORDER BY v <-> q
LIMIT k``, ``search_bm25``, ``weighted_vector_search``); the planner
picks the index. Here the same lifecycle is one handle that owns the
DataFrame plus its acceleration artifacts and routes each query:

    t = LanternTable(df, id_col="doc_id")
    t.create_index("embedding", kind="ivf", nlist=64)     # CREATE INDEX
    t.create_pq("embedding", splits=8, clusters=256)      # create_pq_codebook
    t.create_bm25("text")                                 # create_bm25_table
    t.knn("embedding", q, k=10)                # auto: ivf if indexed, exact else
    t.knn("embedding", q, k=10, mode="exact")  # force the exact scan
    t.search_bm25("query text", limit=10)
    t.delete([ids...]); t.insert(delta_df)     # tombstones / deltas

Routing mirrors the reference's planner behavior: an indexed column uses
its ANN structure, ``mode="exact"`` forces the sequential scan (the
reference does this by dropping the ORDER BY operator / enable_indexscan),
and every query first applies tombstones and deltas the way the index
scan skips deleted labels (scan.c:294-300).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lanterndb_spark.operators import maintenance
from lanterndb_spark.operators.knn import knn as exact_knn


class LanternTable:
    def __init__(self, df: DataFrame, id_col: str):
        self.base = df
        self.id_col = id_col
        self._indexes: dict[str, tuple[str, object]] = {}  # vec_col -> (kind, index)
        self._codebooks: dict[str, DataFrame] = {}
        self._postings: dict[str, tuple[DataFrame, tuple[int, float]]] = {}
        self._build_params: dict[tuple[str, str], dict] = {}  # (kind, col) -> params
        self._tombstones: list = []
        self._deltas: list[DataFrame] = []
        # vec_col -> tuned search-time defaults chosen by target_recall
        # index selection (knn merges them under explicit overrides)
        self._tuned_search: dict[str, dict] = {}

    # ------------------------------------------------------------ data

    @property
    def df(self) -> DataFrame:
        """Current visible rows: base ∪ deltas − tombstones."""
        out = maintenance.with_deltas(self.base, *self._deltas)
        if self._tombstones:
            out = maintenance.apply_tombstones(out, self._tombstones, self.id_col)
        return out

    def insert(self, delta: DataFrame) -> "LanternTable":
        """Append rows (aminsert analogue). Deltas are stored RAW:
        index-internal columns (cluster_id, sig_*) are computed on the
        index-side union at query/compact time, so the user-visible
        ``df`` schema never grows index columns."""
        self._deltas.append(delta)
        return self

    def delete(self, ids: list) -> "LanternTable":
        """Tombstone ids (ambulkdelete analogue)."""
        self._tombstones.extend(ids)
        return self

    def upsert(self, delta: DataFrame) -> "LanternTable":
        """MERGE-style upsert: rows in ``delta`` REPLACE base rows with
        the same id; unmatched ids insert. Postgres itself models UPDATE
        as new-tuple-version + dead-old-tuple, and this is the same
        moment through this API: tombstone the matched keys, compact
        (the write barrier — tombstones apply before the new versions
        land, and every index folds), then insert the delta.

        The matched-key list passes through the driver (one
        ``delta.select(id).collect()``) — fine for dimension-table-sized
        upserts; for fact-scale change streams use
        ``operators/scd.py`` / ``streaming/scd.py``, which keep history
        instead of overwriting."""
        keys = [r[0] for r in delta.select(self.id_col).distinct().collect()]
        self.delete(keys).compact()
        return self.insert(delta)

    def _ivf_family_view(self, kind: str, index, vec_col: str):
        """Compose base ∪ deltas MINUS tombstones for the ivf-family
        handle, preserving the subtype: deltas arrive uncoded, assign
        to the FROZEN centroids, then re-derive the kind's codes (sq8 /
        pq against the frozen codebook) so their schema matches the
        coded base. Shared by compact(), knn(), and knn_batch()."""
        from lanterndb_spark.operators.ivf import (
            IvfIndex, IvfPqIndex, ivf_assign,
        )

        def rewrap(assigned):
            if kind == "ivfpq":
                return IvfPqIndex(
                    assigned, index.centroids, vec_col,
                    index.codebook, index.pq_col,
                )
            return IvfIndex(assigned, index.centroids, vec_col)

        base_index = index
        if self._deltas:
            if kind == "ivfsq":
                from lanterndb_spark.operators.sq import sq8_quantize

                def prep(d):
                    return sq8_quantize(ivf_assign(index, d), vec_col)
            elif kind == "ivfpq":
                from lanterndb_spark.operators.pq import quantize

                def prep(d):
                    return quantize(
                        ivf_assign(index, d), vec_col, index.codebook,
                        out_col=index.pq_col,
                    )
            else:
                def prep(d):
                    return ivf_assign(index, d)
            assigned = maintenance.with_deltas(
                index.assigned, *[prep(d) for d in self._deltas]
            )
            base_index = rewrap(assigned)
        if self._tombstones:
            assigned = maintenance.apply_tombstones(
                base_index.assigned, self._tombstones, self.id_col
            )
            base_index = rewrap(assigned)
        return base_index

    def compact(self) -> "LanternTable":
        """Fold deltas+tombstones into a new base AND into every index's
        row set (REINDEX moment — without it the index would keep serving
        deleted rows and miss inserted ones after the lists reset)."""
        for vec_col, (kind, index) in list(self._indexes.items()):
            if kind in ("ivf", "ivfsq", "ivfpq"):
                self._indexes[vec_col] = (
                    kind, self._ivf_family_view(kind, index, vec_col)
                )
            elif kind == "srp":
                from lanterndb_spark.operators.lsh import SrpIndex, srp_sketch

                sketched = maintenance.with_deltas(
                    index.sketched, *[srp_sketch(index, d) for d in self._deltas]
                )
                if self._tombstones:
                    sketched = maintenance.apply_tombstones(
                        sketched, self._tombstones, self.id_col
                    )
                self._indexes[vec_col] = (
                    kind, SrpIndex(sketched, index.planes, vec_col, index.sig_cols)
                )
            elif kind == "proj":
                from lanterndb_spark.operators.project import ProjIndex, proj_apply

                projected = maintenance.with_deltas(
                    index.projected, *[proj_apply(index, d) for d in self._deltas]
                )
                if self._tombstones:
                    projected = maintenance.apply_tombstones(
                        projected, self._tombstones, self.id_col
                    )
                self._indexes[vec_col] = (
                    kind,
                    ProjIndex(projected, index.model, index.out_dim,
                              index.seed, index.vec_col),
                )
            elif kind == "hnsw":
                from lanterndb_spark.operators.hnsw import hnsw_compact, hnsw_insert

                idx = index
                if self._deltas:
                    # true aminsert: deltas grow the existing graphs in
                    # place (insert.c economics), no retrain
                    delta = maintenance.with_deltas(
                        self._deltas[0].select(self.id_col, vec_col),
                        *[d.select(self.id_col, vec_col) for d in self._deltas[1:]],
                    )
                    idx = hnsw_insert(idx, delta)
                if self._tombstones:
                    # vacuum: shard-local rebuilds drop the dead rows
                    mid = idx
                    idx = hnsw_compact(idx, set(self._tombstones))
                    if mid is not index and idx is not mid:
                        # the insert-fold generation was superseded in the
                        # same compact — retire it too (CacheManager never
                        # auto-evicts persisted blobs)
                        mid.graphs.unpersist()
                if idx is not index:
                    index.graphs.unpersist()  # retire the pre-fold generation
                self._indexes[vec_col] = (kind, idx)
        self.base = self.df
        self._deltas, self._tombstones = [], []
        return self

    # --------------------------------------------------------- indexes

    def create_index(
        self,
        vec_col: str,
        kind: str = "ivf",
        target_recall: float | None = None,
        tune_sample: int = 20_000,
        tune_queries: int = 10,
        **params,
    ) -> "LanternTable":
        """Build an ANN index on ``vec_col``. With ``target_recall`` set
        (hnsw only), runs the autotune grid on a ``tune_sample``-row
        sample first — the reference's find_best_variant loop
        (lantern_cli/src/index_autotune/mod.rs:161-186): cheapest
        (m, ef[, nprobe]) meeting the recall target wins, the index
        builds with the chosen m, and the chosen search-time knobs
        become this column's knn defaults (explicit knn(...) kwargs
        still override). Falls back to the highest-recall grid point,
        recorded in get_indexes()['params'], when no point meets the
        target. Grid knobs: m_grid / ef_grid / nprobe_grid."""
        # a rebuild without target_recall invalidates knobs tuned for
        # the previous build of this column
        if target_recall is None:
            self._tuned_search.pop(vec_col, None)
        if target_recall is not None:
            if kind != "hnsw":
                raise ValueError(
                    "target_recall index selection runs on kind='hnsw' "
                    "(the reference's autotune picks among hnsw variants)"
                )
            from lanterndb_spark.operators.autotune import autotune_hnsw

            seed = params.get("seed", 42)
            ef_grid = tuple(params.pop("ef_grid", (16, 32, 64, 128)))
            sample = self.df.orderBy(F.rand(seed)).limit(tune_sample)
            best, results = autotune_hnsw(
                sample, vec_col, self.id_col,
                m_grid=tuple(params.pop("m_grid", (8, 16))),
                ef_grid=ef_grid,
                nprobe_grid=tuple(params.pop("nprobe_grid", (None,))),
                n_queries=tune_queries,
                target_recall=target_recall,
                routing=params.get("routing", "hash"),
                num_shards=params.get("num_shards"),
                seed=seed,
            )
            chosen = best if best is not None else max(
                results, key=lambda r: r.recall
            )
            params["m"] = chosen.params["m"]
            # autotune searched graphs built at efc = max(ef_grid); build
            # the real index the same way so the measured recall carries
            params.setdefault("ef_construction", max(ef_grid))
            tuned = {"ef": chosen.params["ef"]}
            if "nprobe" in chosen.params:
                tuned["nprobe"] = chosen.params["nprobe"]
            self._tuned_search[vec_col] = tuned
            params["_autotune"] = {
                "target_recall": target_recall,
                "achieved_recall": round(chosen.recall, 4),
                "met_target": best is not None,
                **tuned,
            }
        tune_meta = params.pop("_autotune", None)
        if kind == "ivf":
            from lanterndb_spark.operators.ivf import build_ivf

            index = build_ivf(self.df, vec_col, **params)
        elif kind == "ivfsq":
            # quant_bits=8 composite: IVF layout over SQ8-coded vectors
            from lanterndb_spark.operators.ivf import IvfIndex, build_ivf
            from lanterndb_spark.operators.sq import sq8_quantize

            raw = build_ivf(self.df, vec_col, **params)
            index = IvfIndex(
                sq8_quantize(raw.assigned, vec_col), raw.centroids, vec_col
            )
        elif kind == "ivfpq":
            # pq=true composite (build.c:453-501): IVF layout + frozen
            # codebook + byte codes; the handle carries its codebook
            from lanterndb_spark.operators.ivf import build_ivfpq

            index = build_ivfpq(self.df, vec_col, **params)
        elif kind == "srp":
            from lanterndb_spark.operators.lsh import build_srp

            index = build_srp(self.df, vec_col, **params)
        elif kind == "proj":
            from lanterndb_spark.operators.project import build_proj

            index = build_proj(self.df, vec_col, **params)
        elif kind == "hnsw":
            from lanterndb_spark.operators.hnsw import build_hnsw

            index = build_hnsw(self.df, vec_col, id_col=self.id_col, **params)
        else:
            raise ValueError(
                f"unknown index kind {kind!r} "
                "(ivf | ivfsq | ivfpq | srp | proj | hnsw)"
            )
        replaced = self._indexes.get(vec_col)
        if replaced is not None and replaced[0] == "hnsw":
            # retire the replaced generation AT the replacement point —
            # persisted graph blobs are never auto-evicted
            replaced[1].graphs.unpersist()
        self._indexes[vec_col] = (kind, index)
        rec = {"kind": kind, **params}
        if tune_meta is not None:
            rec["autotune"] = tune_meta
        self._build_params[("index", vec_col)] = rec
        return self

    def drop_index(self, vec_col: str) -> "LanternTable":
        dropped = self._indexes.pop(vec_col, None)
        # tuned ef/nprobe were measured against the dropped index's
        # build; they must not become defaults for a future index
        self._tuned_search.pop(vec_col, None)
        if dropped is not None and dropped[0] == "hnsw":
            # graph blobs are persisted; CacheManager never auto-evicts
            dropped[1].graphs.unpersist()
        return self

    def get_indexes(self) -> list[dict]:
        """Index catalog (ldb_get_indexes analogue, lantern.sql's
        ``SELECT * FROM ldb_get_indexes('tab')``): one row per
        acceleration structure with its kind, column, key parameters, and
        whether pending deltas make it stale (the reference surfaces
        size/validity; staleness is the Spark-side equivalent hazard)."""
        out: list[dict] = []
        stale = bool(self._deltas) or bool(self._tombstones)
        for col, (kind, idx) in self._indexes.items():
            params: dict = {}
            if kind in ("ivf", "ivfsq", "ivfpq"):
                params["nlist"] = idx.centroids.shape[0] if hasattr(
                    idx.centroids, "shape") else len(idx.centroids)
                if kind == "ivfpq":
                    from lanterndb_spark.operators.pq import _codebook_arrays

                    params["splits"] = len(_codebook_arrays(idx.codebook))
            elif kind == "srp":
                params["nbits"] = int(idx.planes.shape[0]) if hasattr(
                    idx.planes, "shape") else len(idx.planes)
            elif kind == "hnsw":
                params["m"] = idx.m
                params["num_shards"] = idx.num_shards
                params["routing"] = (
                    "cluster" if idx.centroids is not None else "hash"
                )
                params["quant"] = idx.quant  # blob format (ldb_get_indexes
                # surfaces index options; quant is ours)
                rec = self._build_params.get(("index", col), {})
                if "autotune" in rec:  # target_recall selection outcome
                    params["autotune"] = rec["autotune"]
            out.append({"column": col, "kind": kind, "params": params, "stale": stale})
        for col in self._codebooks:
            out.append({"column": col, "kind": "pq", "params": {}, "stale": stale})
        for col in self._postings:
            out.append({"column": col, "kind": "bm25", "params": {}, "stale": stale})
        return out

    def reindex(self) -> "LanternTable":
        """REINDEX analogue (_lantern_internal.reindex_lantern_indexes):
        fold pending deltas/tombstones into the base, then REBUILD every
        ANN index, PQ codebook, and BM25 postings table from scratch on
        the visible rows — unlike :func:`compact`, which patches existing
        index row-sets incrementally, reindex re-trains (fresh centroids /
        planes / codebook / postings), the remedy for drifted clusters
        after heavy churn."""
        self.base = self.df
        self._deltas, self._tombstones = [], []
        for vec_col, (kind, _old_idx) in list(self._indexes.items()):
            params = dict(self._build_params.get(("index", vec_col), {"kind": kind}))
            # create_index retires the replaced hnsw generation itself
            self.create_index(vec_col, **params)
        for vec_col in list(self._codebooks):
            self.create_pq(vec_col, **self._build_params.get(("pq", vec_col), {}))
        for text_col in list(self._postings):
            self.create_bm25(text_col, **self._build_params.get(("bm25", text_col), {}))
        return self

    def create_pq(self, vec_col: str, **params) -> "LanternTable":
        from lanterndb_spark.operators.pq import train_codebook

        self._codebooks[vec_col] = train_codebook(self.df, vec_col, **params)
        self._build_params[("pq", vec_col)] = dict(params)
        return self

    def create_bm25(self, text_col: str, **params) -> "LanternTable":
        """Snapshot of the inverted index at call time — like the
        reference's create_bm25_table, inserts after this need a rebuild
        (or consolidate_postings over incremental batches) to be
        searchable; deleted rows simply score and get filtered."""
        from lanterndb_spark.operators.bm25 import build_postings, corpus_stats

        docs = self.df
        postings = build_postings(docs, id_col=self.id_col, text_col=text_col, **params)
        stats = corpus_stats(docs, text_col=text_col, **params)
        self._postings[text_col] = (postings, stats)
        self._build_params[("bm25", text_col)] = dict(params)
        return self

    # ---------------------------------------------------------- queries

    def knn(
        self,
        vec_col: str,
        query: list[float],
        k: int = 10,
        metric: str = "l2sq",
        mode: str = "auto",
        pred: Column | None = None,
        **search_params,
    ) -> DataFrame:
        """Top-k under ``metric``. mode='auto' routes to the column's ANN
        index when one exists (the planner picking the index path);
        'exact' forces the sequential scan; 'ivf'/'srp' force a backend."""
        if mode == "auto":
            mode = self._indexes.get(vec_col, ("exact",))[0]
        if mode == "exact" or vec_col not in self._indexes:
            return exact_knn(
                self.df, vec_col, query, k=k, metric=metric,
                id_col=self.id_col, pred=pred,
            )
        kind, index = self._indexes[vec_col]
        if kind in ("ivf", "ivfsq", "ivfpq"):
            from lanterndb_spark.operators.ivf import (
                ivf_search, ivfpq_search, ivfsq_search,
            )

            base_index = self._ivf_family_view(kind, index, vec_col)
            if kind in ("ivfsq", "ivfpq"):
                if metric != "l2sq":
                    raise ValueError(
                        f"{kind} index supports metric='l2sq' only"
                    )
                if pred is not None:
                    raise ValueError(
                        f"{kind}: pass pred-filtered knn through "
                        "mode='exact' or an ivf index (filter composes "
                        "before re-rank there)"
                    )
            if kind == "ivfsq":
                return ivfsq_search(
                    base_index, query, k=k, id_col=self.id_col, **search_params
                )
            if kind == "ivfpq":
                return ivfpq_search(
                    base_index, base_index.codebook, query, k=k,
                    pq_col=base_index.pq_col, id_col=self.id_col,
                    **search_params,
                )
            return ivf_search(
                base_index, query, k=k, metric=metric, id_col=self.id_col,
                pred=pred, **search_params,
            )
        if kind == "hnsw":
            from lanterndb_spark.operators.hnsw import (
                hnsw_search,
                hnsw_search_filtered,
            )

            # target_recall-chosen defaults; explicit kwargs win
            search_params = {
                **self._tuned_search.get(vec_col, {}), **search_params
            }

            if metric != index.metric:
                raise ValueError(
                    f"hnsw index on {vec_col!r} was built for "
                    f"metric={index.metric!r}; searched with {metric!r} "
                    "(rebuild with the wanted metric or use mode='exact')"
                )
            # graph answers for the BASE rows (tombstones skipped at emit,
            # scan.c:294-300; predicates recheck outside the access method
            # with streaming-k doubling, scan.c:240-292); pending deltas
            # aren't in the graphs yet, so they get an exact side-scan and
            # the two top-k lists merge — the same visibility the
            # reference gets from unflushed heap tuples. compact() folds
            # deltas in via hnsw_insert.
            deleted = set(self._tombstones) if self._tombstones else None
            if pred is not None:
                graph_top = hnsw_search_filtered(
                    index, self.df, query, pred, k=k, deleted=deleted,
                    **search_params,
                )
            else:
                graph_top = hnsw_search(
                    index, self.df, query, k=k, deleted=deleted,
                    **search_params,
                )
            if not self._deltas:
                return graph_top
            delta = maintenance.with_deltas(self._deltas[0], *self._deltas[1:])
            if self._tombstones:
                delta = maintenance.apply_tombstones(
                    delta, self._tombstones, self.id_col
                )
            if pred is not None:
                delta = delta.filter(pred)
            delta_top = exact_knn(
                delta, vec_col, query, k=k, metric=metric, id_col=self.id_col
            )
            return (
                graph_top.unionByName(delta_top)
                .orderBy(F.col("dist").asc(), F.col(self.id_col).asc())
                .limit(k)
            )
        if kind == "proj":
            from lanterndb_spark.operators.project import (
                ProjIndex, proj_apply, projected_knn,
            )

            if metric != "l2sq":
                raise ValueError("proj index supports metric='l2sq' only")
            base = index.projected
            # same delta/tombstone visibility contract as the ivf path:
            # deltas are projected with the INDEX's matrix (no refit)
            if self._deltas:
                for d in self._deltas:
                    base = base.unionByName(proj_apply(index, d))
            if self._tombstones:
                base = maintenance.apply_tombstones(
                    base, self._tombstones, self.id_col
                )
            if pred is not None:
                base = base.filter(pred)
            return projected_knn(
                base, vec_col, query, k=k, out_dim=index.out_dim,
                seed=index.seed, id_col=self.id_col, model=index.model,
                proj_col="__proj", **search_params,
            ).drop("__proj")

        from lanterndb_spark.operators.lsh import SrpIndex, srp_search, srp_sketch

        # same delta/tombstone visibility contract as the ivf path above
        base_index = index
        if self._deltas:
            sketched = maintenance.with_deltas(
                index.sketched, *[srp_sketch(index, d) for d in self._deltas]
            )
            base_index = SrpIndex(sketched, index.planes, vec_col, index.sig_cols)
        if self._tombstones:
            sketched = maintenance.apply_tombstones(
                base_index.sketched, self._tombstones, self.id_col
            )
            base_index = SrpIndex(sketched, index.planes, vec_col, index.sig_cols)
        return srp_search(base_index, query, k=k, metric=metric, id_col=self.id_col, **search_params)

    def knn_batch(
        self,
        vec_col: str,
        queries: DataFrame,
        k: int = 10,
        metric: str = "l2sq",
        mode: str = "auto",
        pred: Column | None = None,
        q_id_col: str = "q_id",
        q_vec_col: str = "query",
        unique_q_ids: bool = False,
        **search_params,
    ) -> DataFrame:
        """Top-k for EVERY row of ``queries`` (a DataFrame with
        ``q_id_col`` + ``q_vec_col``) — the eval-pass / hard-negative-
        mining shape. Returns (q_id, id, dist), one row per neighbor.
        Duplicate q_id VALUES are PER-ROW on EVERY route (hnsw, ivf
        family, exact): the router detects them once (one column-pruned
        aggregate) and surrogate-wraps the whole route — including the
        delta-merge window, which would otherwise re-merge restored
        duplicates — so the row count no longer depends on which index
        kind the table happens to carry (the r11 divergence).
        ``unique_q_ids=True`` skips the detection pass (asserting
        uniqueness; duplicates then merge per q_id value).
        ``pred`` filters like ``knn``'s: rechecked OUTSIDE the access
        method (hnsw runs the batch streaming-k,
        ``hnsw_search_df_filtered``; ivf composes the filter before its
        re-rank; exact paths just pre-filter the scan).

        mode='auto' routes by the column's index, same planner rule as
        ``knn``: hnsw -> the DataFrame-native graph batch
        (``hnsw_search_df`` — queries shuffle to shards, so the batch
        size is unbounded); ivf -> ``ivf_search_df`` (queries route to
        their nprobe centroids executor-side — equally unbounded);
        exact / no index -> ``knn_join`` (the reference's LATERAL
        shape, hnsw_select.sql:66-67, as one distributed job); ivfsq ->
        ``ivfsq_search_df`` (coarse over dequantized codes + exact
        re-rank, unbounded). Backends without a batch recast (srp /
        proj — no routing structure preserves their rank-by-hamming
        semantics) run the exact lateral join — same answers at exact
        recall, just not index-accelerated.
        Delta/tombstone visibility matches ``knn``: graphs answer for
        base rows minus tombstones, pending deltas get an exact
        side-scan, and the two lists merge per query."""
        from lanterndb_spark.operators.knn import knn_join

        if not unique_q_ids:
            from lanterndb_spark.operators.hnsw import (
                _has_duplicate_qids, _restore_surrogate,
                _surrogate_key_queries,
            )

            if _has_duplicate_qids(queries, q_id_col):
                keyed = _surrogate_key_queries(queries, q_id_col, q_vec_col)
                inner = self.knn_batch(
                    vec_col, keyed.drop("__orig_qid"), k=k, metric=metric,
                    mode=mode, pred=pred, q_id_col=q_id_col,
                    q_vec_col=q_vec_col, unique_q_ids=True, **search_params,
                )
                return _restore_surrogate(
                    inner, keyed, q_id_col, [self.id_col, "dist"],
                    key_col=q_id_col,
                )
        # past here q_ids are unique (checked or caller-asserted): every
        # inner route gets unique_q_ids=True so none re-runs the check
        if mode == "auto":
            mode = self._indexes.get(vec_col, ("exact",))[0]
        if (
            mode == "exact"
            or vec_col not in self._indexes
            or self._indexes[vec_col][0] in ("srp", "proj")
        ):
            # the exact lateral join caps at 100k queries — knn_join
            # enforces it (both impls broadcast the batch); past the cap
            # create an hnsw/ivf/ivfsq index (unbounded batch routes),
            # replace an srp/proj index, or drop mode='exact'
            data = self.df.filter(pred) if pred is not None else self.df
            out = knn_join(
                data, vec_col, queries, q_vec_col, k=k, metric=metric,
                id_col=self.id_col, q_id_col=q_id_col, unique_q_ids=True,
            )
            return out.select(q_id_col, self.id_col, "dist")
        kind, index = self._indexes[vec_col]
        if kind in ("ivf", "ivfsq", "ivfpq"):
            from lanterndb_spark.operators.ivf import (
                ivf_search_df, ivfpq_search_df, ivfsq_search_df,
            )

            base_index = self._ivf_family_view(kind, index, vec_col)
            if kind in ("ivfsq", "ivfpq"):
                # same contract as knn()'s coded routes: l2sq only, pred
                # through mode='exact' or an ivf index
                if metric != "l2sq":
                    raise ValueError(
                        f"{kind} index supports metric='l2sq' only"
                    )
                if pred is not None:
                    raise ValueError(
                        f"{kind}: pass pred-filtered knn_batch through "
                        "mode='exact' or an ivf index (filter composes "
                        "before re-rank there)"
                    )
            if kind == "ivfsq":
                return ivfsq_search_df(
                    base_index, queries, k=k, id_col=self.id_col,
                    q_id_col=q_id_col, q_vec_col=q_vec_col,
                    unique_q_ids=True, **search_params,
                )
            if kind == "ivfpq":
                return ivfpq_search_df(
                    base_index, base_index.codebook, queries, k=k,
                    pq_col=base_index.pq_col, id_col=self.id_col,
                    q_id_col=q_id_col, q_vec_col=q_vec_col,
                    unique_q_ids=True, **search_params,
                )
            # DataFrame-native: queries route to their nprobe centroids
            # executor-side (no driver list, no 100k ceiling — batch
            # size unbounded like the hnsw route below), q_ids pass
            # through in their native column type, and an empty batch
            # returns an empty frame
            return ivf_search_df(
                base_index, queries, k=k, metric=metric, id_col=self.id_col,
                pred=pred, q_id_col=q_id_col, q_vec_col=q_vec_col,
                unique_q_ids=True, **search_params,
            )
        # hnsw
        from lanterndb_spark.operators.hnsw import hnsw_search_df

        search_params = {
            **self._tuned_search.get(vec_col, {}), **search_params
        }
        search_params.pop("init_k", None)  # single-query knob
        if metric != index.metric:
            raise ValueError(
                f"hnsw index on {vec_col!r} was built for "
                f"metric={index.metric!r}; searched with {metric!r}"
            )
        deleted = set(self._tombstones) if self._tombstones else None
        if pred is not None:
            from lanterndb_spark.operators.hnsw import hnsw_search_df_filtered

            search_params.pop("base", None)
            graph_top = hnsw_search_df_filtered(
                index, self.base, queries, pred, k=k, deleted=deleted,
                q_id_col=q_id_col, q_vec_col=q_vec_col,
                unique_q_ids=True, **search_params,
            )
            inner = graph_top.__dict__.get("_lantern_persisted", [])
            # the graph batch forms emit a literal "q_id" column; restore
            # the caller's name so the delta merge and output agree
            graph_top = graph_top.select(
                F.col("q_id").alias(q_id_col), self.id_col, "dist"
            )
            graph_top.__dict__["_lantern_persisted"] = inner
        else:
            base = self.base if index.quant == "pq" else None
            graph_top = hnsw_search_df(
                index, queries, k=k, deleted=deleted, base=base,
                q_id_col=q_id_col, q_vec_col=q_vec_col,
                unique_q_ids=True, **search_params,
            ).select(F.col("q_id").alias(q_id_col), self.id_col, "dist")
        if not self._deltas:
            return graph_top
        delta = maintenance.with_deltas(self._deltas[0], *self._deltas[1:])
        if self._tombstones:
            delta = maintenance.apply_tombstones(
                delta, self._tombstones, self.id_col
            )
        if pred is not None:
            delta = delta.filter(pred)
        delta_top = knn_join(
            delta, vec_col, queries, q_vec_col, k=k, metric=metric,
            id_col=self.id_col, q_id_col=q_id_col, unique_q_ids=True,
        ).select(q_id_col, self.id_col, "dist")
        from pyspark.sql import Window

        w = Window.partitionBy(q_id_col).orderBy(
            F.col("dist").asc(), F.col(self.id_col).asc()
        )
        merged = (
            graph_top.unionByName(delta_top)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
        # carry the filtered rounds' persisted frames through the merge
        # so release() on the final result still frees them
        merged.__dict__["_lantern_persisted"] = graph_top.__dict__.get(
            "_lantern_persisted", []
        )
        return merged

    def search_bm25(self, query: str, text_col: str = "text", limit: int = 10, **kw) -> DataFrame:
        from lanterndb_spark.operators.bm25 import search_bm25

        if text_col in self._postings:
            postings, stats = self._postings[text_col]
            kw.setdefault("postings", postings)
            kw.setdefault("stats", stats)
        return search_bm25(
            self.df, query, id_col=self.id_col, text_col=text_col, limit=limit, **kw
        )

    def search_bm25_batch(
        self, queries: DataFrame, text_col: str = "text", limit: int = 10, **kw
    ) -> DataFrame:
        """Batch twin of :meth:`search_bm25` (operators.bm25.search_bm25_df):
        per-query top-``limit`` for a whole queries DataFrame in one job,
        reusing the table's prebuilt postings snapshot when present —
        same snapshot semantics as the single-query form (inserts after
        create_bm25 need a rebuild to be searchable)."""
        from lanterndb_spark.operators.bm25 import search_bm25_df

        if text_col in self._postings:
            postings, stats = self._postings[text_col]
            kw.setdefault("postings", postings)
            kw.setdefault("stats", stats)
        return search_bm25_df(
            self.df, queries, id_col=self.id_col, text_col=text_col,
            limit=limit, **kw,
        )

    def weighted_search_batch(self, terms, queries: DataFrame, **kw) -> DataFrame:
        """Batch twin of :meth:`weighted_search`
        (operators.hybrid.weighted_vector_search_df): ``terms`` name
        query-vector COLUMNS of ``queries``. Fresh ivf/hnsw indexes on
        term columns route their candidate stages through the batch ANN
        forms (unbounded query volume); pending deltas force exact
        candidate scans like the single-query form (a stale index can't
        see them), and tombstoned rows drop at the scoring join onto the
        visible df."""
        from lanterndb_spark.operators.hybrid import weighted_vector_search_df

        kw.setdefault("id_col", self.id_col)
        if "indexes" not in kw:
            kw["indexes"] = {} if self._deltas else {
                col: idx for col, (kind, idx) in self._indexes.items()
                if kind in ("ivf", "ivfpq", "hnsw")
                and any(col == c for (_w, c, _q) in terms)
            }
        return weighted_vector_search_df(self.df, terms, queries, **kw)

    def weighted_search(self, terms, **kw) -> DataFrame:
        """Hybrid search; candidate mode automatically probes any ANN
        index already created on a term's vector column (the reference's
        per-column index-backed candidate queries, lantern.sql:769-806).
        Pass ``indexes={}`` to force exact candidate scans."""
        from lanterndb_spark.operators.hybrid import weighted_vector_search

        kw.setdefault("id_col", self.id_col)
        if "indexes" not in kw:
            # tombstoned rows are safe (candidates semi-join onto the
            # visible df), but PENDING DELTAS are invisible to a stale
            # index — fall back to exact candidate scans until compact()
            kw["indexes"] = {} if self._deltas else {
                col: idx for col, (_kind, idx) in self._indexes.items()
                if any(col == c for (_w, c, _q) in terms)
            }
        return weighted_vector_search(self.df, terms, **kw)

    def validate(self, vec_col: str, k: int = 10, n_queries: int = 5, seed: int = 42) -> float:
        """validate_index analogue: recall of the column's ANN index vs
        exact top-k on sampled queries."""
        from lanterndb_spark.operators.autotune import validate_ann

        if vec_col not in self._indexes:
            return 1.0
        return validate_ann(
            self.df, vec_col, self.id_col,
            lambda q, kk: self.knn(vec_col, q, k=kk),
            k=k, n_queries=n_queries, seed=seed,
        )

    # --------------------------------------------------- data quality

    def profile(self, cols: list[str] | None = None, approx: bool = False) -> DataFrame:
        """Per-column statistics of the VISIBLE rows (deltas and
        tombstones applied) — see operators/profile.py."""
        from lanterndb_spark.operators.profile import profile_table

        return profile_table(self.df, cols, approx=approx)

    def check(self, rules: list[dict], refs: dict[str, DataFrame] | None = None) -> DataFrame:
        """Constraint validation over the visible rows. Rules use table
        name ``"self"`` for this table; ``refs`` supplies any foreign-key
        parent tables by name."""
        from lanterndb_spark.operators.profile import check_constraints

        tables = {"self": self.df, **(refs or {})}
        return check_constraints(tables, rules)

    def near_dup_pairs(self, text_col: str = "text", **kw) -> DataFrame:
        """MinHash-LSH near-duplicate pairs over the visible rows."""
        from lanterndb_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(self.df, self.id_col, text_col, **kw)

    def semantic_near_dup_pairs(
        self, vec_col: str = "embedding", **kw
    ) -> DataFrame:
        """Embedding near-dup pairs (cos_dist <= max_cos_dist) over the
        visible rows. When this table carries a FRESH cos-metric hnsw
        index on ``vec_col`` (no pending deltas/tombstones — the same
        staleness hazard ``get_indexes`` surfaces), the pair scan reuses
        it instead of rebuilding a graph per call (VERDICT r8 item 4:
        at 100 TB the build dominates and the corpus usually already
        has the index). Stale or absent index falls back to
        ``embedding_near_dup_pairs``'s own routing, which answers for
        the visible row-set exactly."""
        from lanterndb_spark.operators.dedup import embedding_near_dup_pairs

        entry = self._indexes.get(vec_col)
        fresh = not self._deltas and not self._tombstones
        if (
            kw.get("index") is None
            # injecting forces method='ann' inside the operator, so an
            # explicit method='brute'/'lsh' request must win over reuse
            and kw.get("method", "auto") in ("auto", "ann")
            and entry is not None
            and entry[0] == "hnsw"
            and getattr(entry[1], "metric", None) == "cos"
            and fresh
        ):
            kw["index"] = entry[1]
        return embedding_near_dup_pairs(self.df, self.id_col, vec_col, **kw)

    def near_dup_check(self, batch: DataFrame, text_col: str = "text", **kw) -> DataFrame:
        """Incremental near-dup check of an INCOMING batch against this
        table (signatures only; the table's text is not re-read when a
        signature store is reused — see minhash_lsh_incremental). Use
        before insert() to keep the table near-dup-free at ingest."""
        from lanterndb_spark.operators.dedup import (
            minhash_lsh_incremental,
            minhash_signatures,
        )

        num_hashes = kw.pop("num_hashes", 64)
        n = kw.pop("n", 3)
        sigs = minhash_signatures(self.df, self.id_col, text_col, num_hashes, n)
        return minhash_lsh_incremental(
            sigs, batch, self.id_col, text_col, num_hashes=num_hashes, n=n, **kw
        )

    def exact_dup_pairs(self, text_col: str = "text", **kw) -> DataFrame:
        """Exact-Jaccard similarity pairs via prefix filtering
        (recall-preserving at any scale) — see
        operators/dedup.py jaccard_pairs_prefix."""
        from lanterndb_spark.operators.dedup import jaccard_pairs_prefix

        return jaccard_pairs_prefix(self.df, self.id_col, text_col, **kw)

    def histogram(self, value_col: str, bins: int = 20, **kw) -> DataFrame:
        """Equi-width histogram of a column over the visible rows."""
        from lanterndb_spark.operators.profile import histogram

        return histogram(self.df, value_col, bins=bins, **kw)

    def outliers(self, value_col: str, group_cols: list[str] | None = None,
                 **kw) -> DataFrame:
        """Robust MAD outlier flags over the visible rows."""
        from lanterndb_spark.operators.profile import mad_outliers

        return mad_outliers(self.df, value_col, group_cols, **kw)

    def history(self, ts_col: str, attr_cols: list[str],
                tiebreak_col: str | None = None) -> DataFrame:
        """SCD2 version history of this table's change log, keyed by the
        table id — see operators/scd.py scd2_history."""
        from lanterndb_spark.operators.scd import scd2_history

        return scd2_history(self.df, self.id_col, ts_col, attr_cols,
                            tiebreak_col=tiebreak_col)

    def snapshot_at(self, ts_col: str, attr_cols: list[str], at,
                    tiebreak_col: str | None = None) -> DataFrame:
        """Point-in-time view of the change log at timestamp ``at``."""
        from lanterndb_spark.operators.scd import scd2_history, scd2_snapshot

        hist = scd2_history(self.df, self.id_col, ts_col, attr_cols,
                            tiebreak_col=tiebreak_col)
        return scd2_snapshot(hist, at)

    def drift_vs(self, other: DataFrame, value_col: str, bins: int = 10,
                 **kw) -> DataFrame:
        """PSI distribution drift of ``value_col`` between this table's
        visible rows and ``other`` — see operators/profile.py psi_drift."""
        from lanterndb_spark.operators.profile import psi_drift

        return psi_drift(self.df, other, value_col, bins=bins, **kw)

    def repeated_spans(self, text_col: str = "text", **kw) -> DataFrame:
        """Substring-level repeated spans over the visible rows — see
        operators/spans.py repeated_spans."""
        from lanterndb_spark.operators.spans import repeated_spans

        return repeated_spans(self.df, self.id_col, text_col, **kw)

    def mask_spans(self, text_col: str = "text", **kw) -> DataFrame:
        """The visible rows with corpus-repeated spans cut out of
        ``text_col`` — see operators/spans.py mask_repeated_spans."""
        from lanterndb_spark.operators.spans import mask_repeated_spans

        return mask_repeated_spans(self.df, self.id_col, text_col, **kw)

    def project(self, vec_col: str, out_dim: int, method: str = "jl",
                **kw) -> DataFrame:
        """Dimensionality-reduced copy of ``vec_col`` (column ``proj``):
        ``method='jl'`` seeded gaussian projection, ``'pca'`` sampled
        PCA — see operators/project.py."""
        from lanterndb_spark.operators.project import (
            pca_fit,
            pca_project,
            project_embeddings,
        )

        if method == "jl":
            return project_embeddings(self.df, vec_col, out_dim, **kw)
        if method == "pca":
            fit_kw = {k: kw.pop(k) for k in ("sample_limit", "seed") if k in kw}
            model = pca_fit(self.df, vec_col, out_dim, **fit_kw)
            return pca_project(self.df, vec_col, model, **kw)
        raise ValueError(f"unknown projection method {method!r}")

    def quality_filter(self, label_col: str, text_col: str = "text",
                       threshold: float | None = None, **fit_kw):
        """Fit a logistic quality classifier on ``label_col`` (binary) and
        score the visible rows — see operators/classifier.py. Returns
        (scored DataFrame, model); with ``threshold`` set, the DataFrame
        is pre-filtered to quality_prob >= threshold."""
        from pyspark.sql import functions as F

        from lanterndb_spark.operators.classifier import quality_classifier

        scored, model = quality_classifier(self.df, text_col, label_col, **fit_kw)
        if threshold is not None:
            scored = scored.filter(F.col("quality_prob") >= F.lit(threshold))
        return scored, model

    def subset_pairs(self, text_col: str = "text", **kw) -> DataFrame:
        """Directed near-subset pairs (containment >= threshold) over the
        visible rows — see operators/dedup.py containment_pairs."""
        from lanterndb_spark.operators.dedup import containment_pairs

        return containment_pairs(self.df, self.id_col, text_col, **kw)
