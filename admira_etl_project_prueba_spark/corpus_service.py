"""Corpus service layer — the training-data pipeline ops behind the same
endpoint contract as ``MetricsService``.

The reference's service tier (internal/api/handlers.go) defines the
envelope/validation conventions; this module applies them to the
beyond-reference corpus operators (dedup, similarity, quality, language),
so a pipeline operator gets the same REST-mountable surface for documents
that the reference exposes for metrics:

* missing required params → ``ValidationError`` (400)
* unknown enum values → ``ValidationError`` (400)
* unknown doc/vec ids → ``NotFoundError`` (404, like empty export)
* non-positive limit / negative offset silently clamp to defaults
* every response carries a ``request_id`` (F14 middleware semantics)

Framework-free, like MetricsService: the Spark work is delegated to
operators/, responses are plain dicts, and pagination is the engine's
deterministic canonical-order paginate.  At scale the expensive endpoints
(near_dup_pairs) page over a PRECOMPUTED pairs table when one is supplied —
recomputing LSH per HTTP request is only for ad-hoc exploration.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.functions.fs import (
    lease_held,
    path_exists,
    path_mtime,
    resolve_store_root,
)
from admira_etl_project_prueba_spark.operators import similarity, textops
from admira_etl_project_prueba_spark.operators.queries import page_info, paginate
from admira_etl_project_prueba_spark.service import ValidationError, new_request_id


class NotFoundError(LookupError):
    """Maps to HTTP 404 at a web tier (unknown doc/vec id)."""


DEDUP_METHODS = ("exact", "minhash", "simhash", "semantic")


class CorpusService:
    """GET /corpus/dedup/pairs · GET /corpus/dedup/summary ·
    GET /corpus/similar · GET /corpus/quality · GET /corpus/languages —
    engine-backed, over a documents + embeddings corpus."""

    def __init__(
        self,
        spark: SparkSession,
        documents: DataFrame,
        embeddings: DataFrame | None = None,
        pairs_table: DataFrame | None = None,
        ivf_index_path: str | None = None,
        pq_index_path: str | None = None,
        text_index_path: str | None = None,
        semantic_pairs_path: str | None = None,
    ):
        self.spark = spark
        self.documents = documents
        self.embeddings = embeddings
        self.pairs_table = pairs_table  # precomputed near-dup pairs, if any
        # persisted write_semantic_pairs store: method=semantic becomes a
        # paged read of materialized pairs (no per-request scoring job)
        # whenever the request's threshold is answerable from the build's
        self.semantic_pairs_path = semantic_pairs_path
        # persisted index stores, if the deployment maintains them —
        # enables the maintenance-scheduling surface (index_health, the
        # /corpus/similar index block) so an operator can SEE when
        # compaction or retrain is due instead of discovering it as
        # probe-latency drift
        self.ivf_index_path = ivf_index_path
        # persisted write_ivfpq_index store: /corpus/similar?mode=pq
        # serves ranked 4-byte-code ADC results from it (the
        # memory-bound serving tier; raw vectors only for the query row)
        self.pq_index_path = pq_index_path
        self.text_index_path = text_index_path
        # memoized per instance: health is two index-wide scans and the
        # manifest a point-read — fine on the explicit monitoring route,
        # wrong to repeat on EVERY /corpus/similar (the hot path this
        # service exists to keep at n_probe pruned reads).  Keyed by the
        # resolved manifest directory's mtime (ONE metadata RPC per
        # request): every retrain commits a new version by rename, whose
        # manifest is a new directory, so an OUT-OF-PROCESS retrain
        # changes the mtime and invalidates both memos — without the
        # key, a second worker would probe the retrained layout with the
        # old centroid count forever.
        self._ivf_health_cache: dict | None = None
        self._ivf_n_centroids: int | None = None
        self._ivf_manifest_mtime: int | None = None
        # occupancy-derived rerank depth for the configured PQ store
        # (similarity.recommended_rerank_depth — the round-12 law: the
        # shortlist must cover local cluster occupancy).  Keyed by the
        # PQ manifest dir's mtime exactly like the IVF memo: retrains
        # and merges commit a new manifest, changing the mtime.
        self._pq_rerank_depth: int | None = None
        self._pq_manifest_mtime: int | None = None
        # in-process maintenance POSTs (retrain/compact) must not
        # interleave with each other; cheaper than contending on the
        # stores' filesystem leases, which serialize writers across
        # processes.  Read paths never take it.
        self._maintenance_lock = threading.Lock()

    # -- GET /corpus/dedup/pairs --------------------------------------------
    def near_dup_pairs(
        self,
        method: str | None = "minhash",
        limit: int = 100,
        offset: int = 0,
        threshold: float = 0.92,
        request_id: str | None = None,
    ) -> dict:
        """Near-duplicate pair listing across the engine's dedup family.
        ``method=semantic`` (SemDeDup) pairs embeddings with cosine ≥
        ``threshold`` within an IVF cluster — served from the CONFIGURED
        persisted index's assignments when the store is ready (no inline
        n·k recompute; the response declares ``assignments_source``),
        inline otherwise.  ``threshold`` applies to semantic only and is
        validated in (0, 1]."""
        if method not in DEDUP_METHODS:
            raise ValidationError(
                f"invalid method: {method!r} (want one of {', '.join(DEDUP_METHODS)})"
            )
        assignments_source = None
        if self.pairs_table is not None:
            pairs = self.pairs_table
        elif method == "minhash":
            pairs = textops.lsh_candidate_pairs(self.documents)
        elif method == "simhash":
            pairs = textops.simhash_near_dup_pairs(self.documents)
        elif method == "semantic":
            if self.embeddings is None:
                raise ValidationError(
                    "method=semantic requires an embeddings corpus"
                )
            if not (0.0 < float(threshold) <= 1.0):
                raise ValidationError(
                    f"threshold out of range (0, 1]: {threshold}"
                )
            stored = (
                similarity.read_semantic_pairs(
                    self.spark, self.semantic_pairs_path
                )
                if self.semantic_pairs_path is not None
                else None
            )
            if stored is not None and float(stored[1]["threshold"]) <= float(
                threshold
            ):
                # table-scale path: a paged read of the materialized
                # pairs (filter only tightens — pairs BELOW the build
                # threshold were never written, so a looser request
                # falls through to compute instead of silently missing)
                pairs = stored[0].filter(
                    F.col("cosine") >= float(threshold)
                )
                assignments_source = "pairs_table"
            elif self.ivf_index_path is not None and self._ivf_index_ready():
                pairs = similarity.semantic_dedup_pairs(
                    self.embeddings,
                    n_centroids=self._ivf_n_centroids,
                    threshold=float(threshold),
                    assignments=self.spark.read.parquet(
                        similarity.ivf_data_path(self.spark, self.ivf_index_path)
                    ),
                )
                assignments_source = "ivf_index"
            else:
                pairs = similarity.semantic_dedup_pairs(
                    self.embeddings, threshold=float(threshold)
                )
                assignments_source = "inline"
        else:  # exact — pairs are (survivor, copy) per collapsed group
            d = textops.dedup_exact(self.documents).filter("n_copies > 1")
            pairs = d.selectExpr("keep_doc_id AS doc_a", "n_copies")
        data = [
            r.asDict()
            for r in paginate(
                pairs, limit=limit, offset=offset, sort_cols=pairs.columns[:2]
            ).collect()
        ]
        out = {
            "data": data,
            "pagination": page_info(pairs, limit, offset),
            "method": method,
            "request_id": new_request_id(request_id),
        }
        if assignments_source is not None:
            out["assignments_source"] = assignments_source
        return out

    # -- GET /corpus/dedup/summary ------------------------------------------
    def dedup_summary(
        self, normalized: bool = False, request_id: str | None = None
    ) -> dict:
        groups = textops.dedup_exact(self.documents, normalized=normalized)
        agg = groups.agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("n_copies").alias("n_docs"),
            F.sum(F.col("n_copies") - 1).alias("n_removable"),
        ).first()
        return {
            "n_docs": int(agg["n_docs"]),
            "n_distinct": int(agg["n_distinct"]),
            "n_removable": int(agg["n_removable"]),
            "normalized": normalized,
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/similar -------------------------------------------------
    def similar_docs(
        self,
        vec_id: int | None,
        k: int = 10,
        mode: str = "auto",
        request_id: str | None = None,
    ) -> dict:
        """``mode=auto`` (default) serves from the configured IVF index
        when ready, exact otherwise — the original contract.  ``mode=pq``
        EXPLICITLY requests the compressed serving tier: ranked ADC
        results from the configured ``write_ivfpq_index`` store (rows
        carry ``adc_dist2`` ascending instead of ``cosine`` descending);
        ``mode=pq_rerank`` adds the exact-cosine rerank of the 50-deep
        code shortlist (rows carry BOTH adc_dist2 and the exact cosine
        the ranking uses).  Asking for either without a ready store is a
        400, never a silent downgrade — the caller chose codes over
        vectors on purpose."""
        if mode not in ("auto", "pq", "pq_rerank"):
            raise ValidationError(
                f"invalid mode: {mode!r} (want one of auto, pq, pq_rerank)"
            )
        if vec_id is None:
            raise ValidationError("missing required parameter: vec_id")
        if self.embeddings is None:
            raise ValidationError("service has no embeddings corpus")
        if k is None or k <= 0:
            k = 10  # silent clamp, like limit/offset
        if mode in ("pq", "pq_rerank"):
            if self.pq_index_path is None:
                self._require_vec_id(vec_id)
                raise ValidationError(
                    f"mode={mode} requires a configured pq_index_path"
                )
            if not self._pq_index_ready():
                self._require_vec_id(vec_id)
                raise ValidationError(
                    f"pq index at {self.pq_index_path} is not written yet"
                )
            if mode == "pq":
                rows = similarity.ivfpq_topk_from_index(
                    self.spark,
                    self.embeddings,
                    self.pq_index_path,
                    query_vec_id=vec_id,
                    k=k,
                ).select("vec_id", "label", "adc_dist2")
                method = "ivfpq_index"
            else:
                # the measured serving config (similarity.SERVING_*):
                # probe count from the round-12 grid, shortlist depth
                # derived from the store's own occupancy
                depth = self._pq_serving_rerank_depth()
                rows = similarity.ivfpq_rerank_from_index(
                    self.spark,
                    self.embeddings,
                    self.pq_index_path,
                    query_vec_id=vec_id,
                    k=k,
                    shortlist=depth,
                    n_probe=similarity.SERVING_N_PROBE,
                ).select("vec_id", "label", "adc_dist2", "cosine")
                method = "ivfpq_rerank_index"
            data = [r.asDict() for r in rows.collect()]
            if not data:
                # the operator point-reads the query row itself, so the
                # existence check only runs when nothing came back
                self._require_vec_id(vec_id)
            out = {
                "query": vec_id,
                "method": method,
                "data": data,
                "request_id": new_request_id(request_id),
            }
            if mode == "pq_rerank":
                # the occupancy-derived shortlist depth actually served
                # (similarity.recommended_rerank_depth) — callers and
                # tests can pin behavior to the dashboard's number
                out["rerank_depth"] = depth
            return out
        self._require_vec_id(vec_id)
        index_ready = self.ivf_index_path is not None and self._ivf_index_ready()
        if index_ready:
            # a configured index IS the scale path: the probe prunes to
            # n_probe partition directories of the index instead of
            # re-scoring the whole embeddings corpus per request
            rows = similarity.ivf_topk_from_index(
                self.spark,
                self.embeddings,
                self.ivf_index_path,
                query_vec_id=vec_id,
                k=k,
                n_centroids=self._ivf_n_centroids,
            ).select("vec_id", "label", "cosine")
            method = "ivf_index"
        else:
            # no index configured — or configured but not written yet
            # (fresh deployment before the first write_ivf_index): serve
            # the exact path instead of 500ing the first queries
            rows = similarity.cosine_topk(self.embeddings, query_vec_id=vec_id, k=k)
            method = "exact"
        out = {
            "query": vec_id,
            "method": method,
            "data": [r.asDict() for r in rows.collect()],
            "request_id": new_request_id(request_id),
        }
        if self.ivf_index_path is not None:
            # surface the ANN store's maintenance state alongside results
            # so probe-latency drift is explainable at the API edge —
            # MEMOIZED: the health scan must not ride every query
            if index_ready:
                if self._ivf_health_cache is None:
                    self._ivf_health_cache = self._ivf_health()
                out["index"] = self._ivf_health_cache
            else:
                out["index"] = {"path": self.ivf_index_path, "absent": True}
        return out

    def _require_vec_id(self, vec_id: int) -> None:
        """404 unless ``vec_id`` is in the embeddings corpus (one
        pushdown point-read)."""
        if self.embeddings.filter(F.col("vec_id") == vec_id).limit(1).count() == 0:
            raise NotFoundError(f"unknown vec_id: {vec_id}")

    def similar_by_vector(
        self,
        query_vec,
        k: int = 10,
        mode: str = "auto",
        request_id: str | None = None,
    ) -> dict:
        """The POST-body twin of :meth:`similar_docs` for a query that
        arrives as an EMBEDDING instead of a corpus vec_id — the real
        retrieval-service arrival shape.  Same ``mode`` contract
        (auto → IVF index when ready else exact; pq / pq_rerank → the
        compressed tier, 400 without a ready store); the vector folds
        into every plan as a double-literal
        (:func:`operators.similarity.literal_query_frame`), so there is
        no corpus point-read for the query and no unknown-id 404 path.
        Validation: 400 unless ``query_vec`` is a list of exactly DIM
        finite numbers."""
        import math

        if mode not in ("auto", "pq", "pq_rerank"):
            raise ValidationError(
                f"invalid mode: {mode!r} (want one of auto, pq, pq_rerank)"
            )
        dim = similarity.DIM
        if (
            not isinstance(query_vec, (list, tuple))
            or len(query_vec) != dim
            or not all(
                isinstance(x, (int, float)) and not isinstance(x, bool)
                and math.isfinite(x)
                for x in query_vec
            )
        ):
            raise ValidationError(
                f"query_vec must be a list of {dim} finite numbers"
            )
        if self.embeddings is None:
            raise ValidationError("service has no embeddings corpus")
        if k is None or k <= 0:
            k = 10  # silent clamp, like limit/offset
        qv = [float(x) for x in query_vec]
        if mode in ("pq", "pq_rerank"):
            if self.pq_index_path is None:
                raise ValidationError(
                    f"mode={mode} requires a configured pq_index_path"
                )
            if not self._pq_index_ready():
                raise ValidationError(
                    f"pq index at {self.pq_index_path} is not written yet"
                )
            if mode == "pq":
                rows = similarity.ivfpq_topk_from_index(
                    self.spark,
                    self.embeddings,
                    self.pq_index_path,
                    k=k,
                    query_vec=qv,
                ).select("vec_id", "label", "adc_dist2")
                method = "ivfpq_index_queryvec"
            else:
                depth = self._pq_serving_rerank_depth()
                rows = similarity.ivfpq_rerank_from_index(
                    self.spark,
                    self.embeddings,
                    self.pq_index_path,
                    k=k,
                    query_vec=qv,
                    shortlist=depth,
                    n_probe=similarity.SERVING_N_PROBE,
                ).select("vec_id", "label", "adc_dist2", "cosine")
                method = "ivfpq_rerank_index_queryvec"
        elif self.ivf_index_path is not None and self._ivf_index_ready():
            rows = similarity.ivf_topk_from_index(
                self.spark,
                self.embeddings,
                self.ivf_index_path,
                k=k,
                n_centroids=self._ivf_n_centroids,
                query_vec=qv,
            ).select("vec_id", "label", "cosine")
            method = "ivf_index_queryvec"
        else:
            rows = similarity.cosine_topk(self.embeddings, k=k, query_vec=qv)
            method = "exact_queryvec"
        out = {
            "query": "external",
            "method": method,
            "data": [r.asDict() for r in rows.collect()],
            "request_id": new_request_id(request_id),
        }
        if method == "ivfpq_rerank_index_queryvec":
            out["rerank_depth"] = depth
        return out

    def similar_by_vectors(
        self,
        query_vecs,
        k: int = 5,
        mode: str = "pq",
        request_id: str | None = None,
    ) -> dict:
        """BATCHED external-embedding ANN (POST /corpus/similar with
        ``query_vecs``): N query embeddings served through ONE pass of
        the persisted IVF-PQ store's pruned code partitions
        (:func:`operators.similarity.ivfpq_topk_batch_from_index`) —
        the throughput shape; per-query results equal N single calls.
        Only ``mode=pq`` is offered: batching exists to amortize the
        code-store scan, which the exact and rerank tiers don't share —
        anything else is a 400, never a silent downgrade.  Queries are
        numbered query_id = -1, -2, … in request order.  Batch size
        capped at 64 (a bigger batch belongs in a bulk job, not a
        request)."""
        import math

        if mode != "pq":
            raise ValidationError(
                f"invalid mode for batch: {mode!r} (batch serving is pq-only)"
            )
        dim = similarity.DIM
        if (
            not isinstance(query_vecs, (list, tuple))
            or not query_vecs
            or len(query_vecs) > 64
            or not all(
                isinstance(v, (list, tuple))
                and len(v) == dim
                and all(
                    isinstance(x, (int, float)) and not isinstance(x, bool)
                    and math.isfinite(x)
                    for x in v
                )
                for v in query_vecs
            )
        ):
            raise ValidationError(
                f"query_vecs must be 1-64 lists of {dim} finite numbers"
            )
        if self.embeddings is None:
            raise ValidationError("service has no embeddings corpus")
        if self.pq_index_path is None:
            raise ValidationError("mode=pq requires a configured pq_index_path")
        if not self._pq_index_ready():
            raise ValidationError(
                f"pq index at {self.pq_index_path} is not written yet"
            )
        if k is None or k <= 0:
            k = 5  # silent clamp, like limit/offset
        rows = similarity.ivfpq_topk_batch_from_index(
            self.spark,
            self.embeddings,
            self.pq_index_path,
            k=k,
            query_vecs=[[float(x) for x in v] for v in query_vecs],
        ).collect()
        by_query: dict[int, list] = {}
        for r in rows:
            by_query.setdefault(int(r["query_id"]), []).append(r.asDict())
        # collect() order is whatever the last shuffle produced — the
        # rows carry rnk, but nothing guarantees they ARRIVE ranked; at
        # scale (AQE re-plans) the per-query lists would come back
        # unordered.  Sort each list explicitly.
        for hits in by_query.values():
            hits.sort(key=lambda h: h["rnk"])
        return {
            "n_queries": len(query_vecs),
            "method": "ivfpq_index_batch",
            # request order: query i is query_id -(i+1)
            "data": [by_query.get(-(i + 1), []) for i in range(len(query_vecs))],
            "request_id": new_request_id(request_id),
        }

    def _pq_index_ready(self) -> bool:
        """True when the configured IVF-PQ store has a committed version
        (codes + manifest).  No crash healing needed: every build,
        compaction and retrain commits a version by one rename, and
        merges append — there is no two-rename swap window to
        recover."""
        codes, _, _, manifest = similarity.pq_resolved_paths(
            self.spark, self.pq_index_path
        )
        return path_exists(self.spark, manifest) and path_exists(
            self.spark, codes
        )

    def _pq_health(self) -> dict:
        """Maintenance state of the persisted IVF-PQ store: per-list
        vector occupancy (retrain-skew verdict, same threshold as the
        raw-vector IVF store), code-file fan-out (compaction verdict,
        same threshold as the posting-file monitor), and the
        occupancy-derived rerank depth (p95 list occupancy floored at
        the measured serving default — the depth the pq_rerank routes
        actually serve with, so the dashboard and the behavior cannot
        drift apart)."""
        occ = similarity.ivfpq_occupancy_report(self.spark, self.pq_index_path)
        f = occ.agg(
            F.count(F.lit(1)).alias("n_lists"),
            F.sum("n_vectors").alias("n_vectors"),
            F.max("n_vectors").alias("mx_occ"),
            (F.sum("n_vectors") / F.count(F.lit(1))).alias("mean_occ"),
            F.max("n_files").alias("mx_files"),
            F.expr("percentile(n_vectors, CAST(0.95 AS DOUBLE))").alias(
                "p95_occ"
            ),
        ).first()
        skew = (
            float(f["mx_occ"]) / float(f["mean_occ"])
            if f["mean_occ"] else 0.0
        )
        depth = max(
            similarity.SERVING_RERANK_DEPTH,
            int(-(-float(f["p95_occ"] or 0) // 1)),
        )
        # refresh the serving memo from the same scan (one pass serves
        # both the dashboard and the route default)
        self._pq_rerank_depth = depth
        self._pq_manifest_mtime = self._pq_manifest_mtime_now()
        return {
            "path": self.pq_index_path,
            "n_lists": int(f["n_lists"]),
            "n_vectors": int(f["n_vectors"]),
            "occupancy_skew": skew,
            "needs_retrain": skew > similarity.RETRAIN_SKEW_THRESHOLD,
            "max_files_per_list": int(f["mx_files"]),
            "needs_compaction": int(f["mx_files"])
            > similarity.MAX_FILES_PER_LIST,
            "recommended_rerank_depth": depth,
        }

    def _pq_manifest_mtime_now(self) -> int:
        _, _, _, man_path = similarity.pq_resolved_paths(
            self.spark, self.pq_index_path
        )
        return path_mtime(self.spark, man_path)

    def _pq_serving_rerank_depth(self) -> int:
        """The rerank shortlist depth the pq_rerank routes serve with:
        :func:`similarity.recommended_rerank_depth` over the configured
        store, memoized against the PQ manifest dir's mtime (one
        metadata RPC on the no-change path — a retrain/merge commits a
        new manifest and invalidates the memo, same recipe as the IVF
        centroid-count memo)."""
        mt = self._pq_manifest_mtime_now()
        if self._pq_rerank_depth is None or mt != self._pq_manifest_mtime:
            self._pq_rerank_depth = similarity.recommended_rerank_depth(
                self.spark, self.pq_index_path
            )
            self._pq_manifest_mtime = mt
        return self._pq_rerank_depth

    def _ivf_index_ready(self) -> bool:
        """True when the configured IVF store has a committed version
        (lists + manifest), refreshing the memoized centroid count
        whenever the resolved manifest directory's mtime changed — i.e.
        after ANY retrain, including one run by a different process:
        the manifest lives inside the current version directory, and
        each commit renames in a new one.  No crash healing needed:
        commits are single renames, so there is no swap window."""
        data, manifest = similarity.ivf_resolved_paths(
            self.spark, self.ivf_index_path
        )
        mt = path_mtime(self.spark, manifest)
        if mt == -1 or not path_exists(self.spark, data):
            return False
        if self._ivf_n_centroids is None or mt != self._ivf_manifest_mtime:
            self._ivf_n_centroids = int(
                self.spark.read.parquet(manifest).first()["n_centroids"]
            )
            self._ivf_manifest_mtime = mt
            self._ivf_health_cache = None  # layout changed — health is stale
        return True

    def _ivf_health(self) -> dict:
        """Maintenance state of the persisted IVF index: file fan-out
        (compaction due?) and occupancy skew (retrain due?).  The
        OUTPUT is n_lists rows, but computing it scans the index —
        which is why callers memoize (``index_health`` refreshes)."""
        fan = similarity.ivf_files_per_list(self.spark, self.ivf_index_path)
        occ = similarity.ivf_occupancy_report(self.spark, self.ivf_index_path)
        f = fan.agg(
            F.count(F.lit(1)).alias("n_lists"), F.max("n_files").alias("mx")
        ).first()
        s = occ.agg(
            F.max("skew").alias("mx"), F.sum("n_vectors").alias("n")
        ).first()
        max_files = int(f["mx"]) if f["mx"] is not None else 0
        max_skew = float(s["mx"]) if s["mx"] is not None else 0.0
        n_vectors = int(s["n"]) if s["n"] is not None else 0
        return {
            "path": self.ivf_index_path,
            "n_lists": int(f["n_lists"]),
            "max_files_per_list": max_files,
            "needs_compaction": max_files > similarity.MAX_FILES_PER_LIST,
            "max_occupancy_skew": round(max_skew, 4),
            "needs_retrain": max_skew > similarity.RETRAIN_SKEW_THRESHOLD,
            # WHAT to retrain to when needs_retrain trips: the measured
            # provisioning rule (lists track the corpus at
            # TARGET_VECTORS_PER_LIST occupancy) over the real-vector
            # count the occupancy scan already produced
            "recommended_n_centroids": max(
                1, -(-n_vectors // similarity.TARGET_VECTORS_PER_LIST)
            ),
        }

    def _text_index_ready(self) -> bool:
        """True when the configured text index has a committed version
        (resolved the same way the query paths resolve it)."""
        root = textops.text_index_root(self.spark, self.text_index_path)
        return path_exists(self.spark, f"{root}/postings")

    def _text_index_health(self) -> dict:
        """Maintenance state of the persisted text index: posting-file
        fan-out per term bucket and the compaction trigger."""
        fan = textops.index_files_per_bucket(self.spark, self.text_index_path)
        f = fan.agg(
            F.count(F.lit(1)).alias("n_buckets"), F.max("n_files").alias("mx")
        ).first()
        max_files = int(f["mx"]) if f["mx"] is not None else 0
        return {
            "path": self.text_index_path,
            "n_buckets": int(f["n_buckets"]),
            "max_files_per_bucket": max_files,
            "needs_compaction": max_files > textops.MAX_FILES_PER_BUCKET,
        }

    # -- GET /corpus/index_health --------------------------------------------
    def index_health(self, request_id: str | None = None) -> dict:
        """Maintenance dashboard for the persisted index stores this
        deployment owns: per-index file fan-out and (IVF) occupancy
        skew, with the compaction/retrain triggers evaluated (the
        thresholds are the operator-level defaults —
        ``similarity.RETRAIN_SKEW_THRESHOLD`` etc. — so the API verdict
        can't drift from the batch triggers) — the scheduling surface
        for ``compact_index_store`` / ``compact_ivf_index`` / retrain.
        Always recomputes, and refreshes the memoized copy that
        /corpus/similar attaches.  SAFE TO POLL in every state: indexes
        not configured are null, and a configured store that does not
        exist yet (fresh deployment before the first build) reports
        ``{"path": ..., "absent": true}`` instead of erroring."""
        out: dict = {"data": {}, "request_id": new_request_id(request_id)}
        if self.ivf_index_path is not None:
            if self._ivf_index_ready():
                self._ivf_health_cache = self._ivf_health()
                out["data"]["ivf"] = self._ivf_health_cache
            else:
                out["data"]["ivf"] = {"path": self.ivf_index_path, "absent": True}
            # lease status is TRANSIENT: attached to the response copy,
            # never to the memoized block /corpus/similar reuses — an
            # operator polling this endpoint sees maintenance mid-flight
            # (the explanation for probe-latency spikes and transient
            # mid-swap retries), possibly run by a DIFFERENT process
            out["data"]["ivf"] = dict(
                out["data"]["ivf"],
                lease_held=lease_held(self.spark, self.ivf_index_path),
            )
        else:
            out["data"]["ivf"] = None
        if self.text_index_path is not None:
            out["data"]["text"] = (
                self._text_index_health()
                if self._text_index_ready()
                else {"path": self.text_index_path, "absent": True}
            )
            out["data"]["text"] = dict(
                out["data"]["text"],
                lease_held=lease_held(self.spark, self.text_index_path),
            )
        else:
            out["data"]["text"] = None
        if self.pq_index_path is not None:
            out["data"]["pq"] = (
                self._pq_health()
                if self._pq_index_ready()
                else {"path": self.pq_index_path, "absent": True}
            )
            out["data"]["pq"] = dict(
                out["data"]["pq"],
                lease_held=lease_held(self.spark, self.pq_index_path),
            )
        else:
            out["data"]["pq"] = None
        return out

    # -- POST /corpus/index_retrain --------------------------------------------
    def index_retrain(
        self,
        n_centroids: int | None = None,
        assign_mode: str = "auto",
        request_id: str | None = None,
    ) -> dict:
        """The ACT side of the retrain loop ``index_health`` monitors:
        run ``similarity.retrain_ivf_index`` on the configured IVF store
        (``n_centroids=None`` → the measured provisioning rule via
        ``recommended_n_centroids``; ``assign_mode`` selects the
        assignment kernel — auto/exact/coarse, see the operator's n·k
        escape hatch — validated HERE so garbage 400s before the lock).
        Refreshes the memoized centroid count the /corpus/similar probe
        uses — a stale value would probe the retrained layout with the
        OLD list universe — and drops the memoized health block so the
        next read reflects the new layout.  404 (LookupError) when no
        IVF store is configured: retraining nothing is an operator
        error, not an empty success.  Serialized against other
        in-process maintenance."""
        if self.ivf_index_path is None:
            raise LookupError("no IVF index configured on this service")
        if assign_mode not in ("auto", "exact", "coarse"):
            raise ValidationError(
                f"assign_mode must be auto|exact|coarse, got {assign_mode!r}"
            )
        with self._maintenance_lock:
            k = similarity.retrain_ivf_index(
                self.spark, self.ivf_index_path, n_centroids, assign_mode=assign_mode
            )
            self._ivf_n_centroids = int(k)
            _, manifest = similarity.ivf_resolved_paths(
                self.spark, self.ivf_index_path
            )
            self._ivf_manifest_mtime = path_mtime(self.spark, manifest)
            self._ivf_health_cache = None
        return {
            "data": {"path": self.ivf_index_path, "n_centroids": int(k)},
            "request_id": new_request_id(request_id),
        }

    # -- POST /corpus/index_compact --------------------------------------------
    def index_compact(self, request_id: str | None = None) -> dict:
        """The ACT side of the compaction triggers ``index_health``
        evaluates: compact every configured index store (IVF lists back
        to one file per centroid partition; text postings to one file
        per term bucket) and report which ran.  Results are
        bit-identical by the operators' contract — this moves bytes,
        never assignments or postings.  The memoized IVF health block is
        dropped so the next read reflects the compacted fan-out.  404
        when NO store is configured (nothing to compact); stores
        configured but not yet written are skipped (compacting nothing
        is a no-op, not an error).  Serialized against other in-process
        maintenance."""
        if self.ivf_index_path is None and self.text_index_path is None:
            raise LookupError("no index stores configured on this service")
        compacted: list[str] = []
        with self._maintenance_lock:
            if self.ivf_index_path is not None and self._ivf_index_ready():
                similarity.compact_ivf_index(self.spark, self.ivf_index_path)
                self._ivf_health_cache = None
                compacted.append("ivf")
            if self.text_index_path is not None and self._text_index_ready():
                textops.compact_index_store(self.spark, self.text_index_path)
                compacted.append("text")
        return {
            "data": {"compacted": compacted},
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/search ---------------------------------------------------
    def search(
        self,
        q: str | None,
        mode: str = "bm25",
        limit: int = 20,
        request_id: str | None = None,
    ) -> dict:
        """Ranked retrieval over the documents corpus.

        ``q`` is a whitespace-separated term list (missing/blank → 400,
        mirroring the reference's required-param contract); ``mode`` is
        ``bm25``, ``hybrid`` (RRF with the lexical-diversity quality
        prior) or ``phrase`` (exact consecutive match, ranked by
        occurrence count); unknown modes → 400; non-positive limit
        clamps to 20.
        """
        if q is None or not q.strip():
            raise ValidationError("missing required parameter: q")
        if mode not in ("bm25", "hybrid", "phrase"):
            raise ValidationError(f"invalid mode: {mode}")
        if limit is None or limit <= 0:
            limit = 20
        terms = [t.lower() for t in q.split()]
        if mode == "phrase":
            rows = (
                textops.phrase_search(self.documents, terms)
                .orderBy(F.col("n_occurrences").desc(), "doc_id")
                .limit(limit)
            )
        elif mode == "bm25":
            rows = textops.bm25_rank(self.documents, terms, top_n=limit)
        else:
            from pyspark.sql import Window

            # Both rank windows below run over frames ALREADY bounded to
            # n_list rows by a distributed TakeOrdered (bm25_rank ends in
            # orderBy().limit(); qual is orderBy().limit()), so each
            # single-partition window sorts ≤ n_list rows at any corpus
            # size — tools/plan_audit.single_partition_sort_hits treats
            # limit-bounded subtrees as clean, and the catalog's
            # hybrid_search_rrf (same shape) is NOT allowlisted, so a
            # regression to an unbounded sort fails the audit gate.
            n_list = max(100, limit)
            bm = textops.bm25_rank(self.documents, terms, top_n=n_list)
            bmr = bm.withColumn(
                "rank",
                F.row_number()
                .over(Window.orderBy(F.col("bm25_score").desc(), "doc_id"))
                .cast("int"),
            ).select("doc_id", "rank")
            qual = (
                textops.quality_scores(self.documents)
                .select("doc_id", "ttr")
                .orderBy(F.col("ttr").desc(), "doc_id")
                .limit(n_list)
            )
            qr = qual.withColumn(
                "rank",
                F.row_number()
                .over(Window.orderBy(F.col("ttr").desc(), "doc_id"))
                .cast("int"),
            ).select("doc_id", "rank")
            rows = textops.rrf_fuse([bmr, qr], top_n=limit)
        return {
            "query": terms,
            "mode": mode,
            "data": [r.asDict() for r in rows.collect()],
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/weights --------------------------------------------------
    def importance_weights(
        self,
        target_lang: str | None,
        limit: int = 20,
        request_id: str | None = None,
    ) -> dict:
        """DSIR importance weights against a target language's documents:
        the top-``limit`` docs most target-domain-like.  Missing/blank
        target_lang → 400; a target_lang matching NO documents → 404
        (like an unknown vec_id); non-positive limit clamps to 20.
        """
        if target_lang is None or not str(target_lang).strip():
            raise ValidationError("missing required parameter: target_lang")
        if limit is None or limit <= 0:
            limit = 20
        target = self.documents.filter(F.col("lang") == target_lang)
        if target.limit(1).count() == 0:
            raise NotFoundError(f"no documents with lang: {target_lang}")
        w = (
            textops.dsir_importance_weights(self.documents, target)
            .filter(F.col("log_weight").isNotNull())
            .orderBy(F.col("log_weight").desc(), "doc_id")
            .limit(limit)
        )
        return {
            "target_lang": target_lang,
            "data": [r.asDict() for r in w.collect()],
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/perplexity ----------------------------------------------
    def perplexity_outliers(
        self,
        reference_lang: str | None,
        limit: int = 20,
        request_id: str | None = None,
    ) -> dict:
        """LM-quality outliers: the top-``limit`` HIGHEST cross-entropy
        documents under a reference-language LM — the review queue a
        perplexity filter produces (gibberish / off-domain first).
        Same validation contract as /corpus/weights: missing/blank
        reference_lang → 400, no matching documents → 404, non-positive
        limit clamps to 20."""
        if reference_lang is None or not str(reference_lang).strip():
            raise ValidationError("missing required parameter: reference_lang")
        if limit is None or limit <= 0:
            limit = 20
        ref = self.documents.filter(F.col("lang") == reference_lang)
        if ref.limit(1).count() == 0:
            raise NotFoundError(f"no documents with lang: {reference_lang}")
        scored = (
            textops.lm_cross_entropy(self.documents, ref)
            .filter(F.col("cross_entropy").isNotNull())
            .orderBy(F.col("cross_entropy").desc(), "doc_id")
            .limit(limit)
        )
        return {
            "reference_lang": reference_lang,
            "data": [r.asDict() for r in scored.collect()],
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/drift ---------------------------------------------------
    def drift_report(
        self,
        kl_threshold: float = 0.5,
        base: str | None = None,
        current: str | None = None,
        psi_threshold: float = 0.25,
        n_bins: int = 256,
        request_id: str | None = None,
    ) -> dict:
        """Distribution-drift report, two modes:

        * default — per-source KL(source ‖ corpus) over the documents
          corpus, sorted worst-first, sources above ``kl_threshold``
          flagged: the standing 'which feed rotted' monitor.
        * ``base=&current=`` — PSI between two PERSISTED histogram
          snapshots (``write_histogram_store``/``merge_histogram_store``
          outputs): the go/no-go gate diffs two model-sized stores
          WITHOUT re-reading any event corpus (rule of thumb:
          psi < 0.1 stable, > 0.25 investigate — the default
          ``psi_threshold``).  ``n_bins`` must match the stores' grid
          (write_histogram_store default).

        Negative thresholds → 400; giving only one of base/current →
        400; an unreadable snapshot path → 404."""
        if kl_threshold < 0.0:
            raise ValidationError(f"kl_threshold out of range: {kl_threshold}")
        if (base is None) != (current is None):
            raise ValidationError(
                "base and current must be provided together"
            )
        if base is not None:
            if psi_threshold < 0.0:
                raise ValidationError(
                    f"psi_threshold out of range: {psi_threshold}"
                )
            from admira_etl_project_prueba_spark.operators.sketches import (
                psi_from_histograms,
            )

            def _read(path: str) -> DataFrame:
                # resolve the current vNNNNNNNN once so the diff reads a
                # consistent snapshot; outside the try, so a flat root
                # from the old layout surfaces its migration ValueError
                # instead of a 404
                root = resolve_store_root(self.spark, path)
                try:
                    return self.spark.read.parquet(root)
                except Exception as exc:
                    raise NotFoundError(
                        f"histogram snapshot not readable: {path}"
                    ) from exc

            rep = psi_from_histograms(_read(base), _read(current), int(n_bins))
            rows = [
                dict(r.asDict(), drifted=r["psi"] > psi_threshold)
                for r in rep.collect()
            ]
            return {
                "mode": "psi",
                "base": base,
                "current": current,
                "psi_threshold": psi_threshold,
                "data": rows,
                "n_types": len(rows),
                "n_drifted": sum(1 for r in rows if r["drifted"]),
                "request_id": new_request_id(request_id),
            }
        rep = textops.source_token_kl(self.documents).orderBy(
            F.col("kl_nats").desc(), F.col("source").asc()
        )
        rows = [dict(r.asDict(), drifted=r["kl_nats"] > kl_threshold)
                for r in rep.collect()]
        return {
            "mode": "kl",
            "data": rows,
            "n_sources": len(rows),
            "n_drifted": sum(1 for r in rows if r["drifted"]),
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/recall --------------------------------------------------
    def recall_report(
        self,
        threshold: float = 0.5,
        request_id: str | None = None,
    ) -> dict:
        """LSH approximation health check: measured recall + candidate
        precision of the banded near-dup pipeline against the exact
        prefix-filtered join at ``threshold`` — what an operator owner
        checks before trusting the fast path on a new corpus.
        Threshold outside (0, 1] → 400."""
        if not (0.0 < threshold <= 1.0):
            raise ValidationError(f"threshold out of range: {threshold}")
        row = (
            textops.lsh_recall_report(self.documents, threshold=threshold)
            .collect()[0]
            .asDict()
        )
        row["threshold"] = threshold
        row["request_id"] = new_request_id(request_id)
        return row

    # -- GET /corpus/quality -------------------------------------------------
    def quality_report(self, request_id: str | None = None) -> dict:
        verdicts = (
            textops.quality_filter(self.documents)
            .groupBy("kept", "reject_reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("kept", "reject_reason")
        )
        data = [r.asDict() for r in verdicts.collect()]
        return {
            "data": data,
            "n_docs": sum(r["n"] for r in data),
            "request_id": new_request_id(request_id),
        }

    # -- POST /corpus/assemble -----------------------------------------------
    def assemble(
        self,
        langs: tuple[str, ...] = ("en", "es", "de", "fr"),
        train_pct: int = 80,
        salt: str = "v1",
        request_id: str | None = None,
    ) -> dict:
        """Run the full training-corpus pipeline and return the outcome
        histogram — the audit summary a data owner reads after a build."""
        from admira_etl_project_prueba_spark.operators.pipeline import (
            build_training_corpus,
        )

        if not (0 < train_pct < 100):
            raise ValidationError(f"train_pct out of range: {train_pct}")
        verdicts = build_training_corpus(
            self.documents, langs=langs, train_pct=train_pct, salt=salt
        )
        counts = {
            r["status"]: r["n"]
            for r in verdicts.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return {
            "counts": counts,
            "n_docs": sum(counts.values()),
            "train_pct": train_pct,
            "salt": salt,
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/languages -----------------------------------------------
    def language_breakdown(self, request_id: str | None = None) -> dict:
        langs = (
            textops.language_id(self.documents)
            .groupBy("lang_predicted")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("lang_predicted").asc())
        )
        return {
            "data": [r.asDict() for r in langs.collect()],
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/sources -------------------------------------------------
    def source_report(
        self,
        min_kept_fraction: float = 0.5,
        request_id: str | None = None,
    ) -> dict:
        """Per-source curation report (C4-style domain reputation): the
        rollup a corpus owner reviews before dropping a domain wholesale.
        Sorted worst-first so the actionable rows lead."""
        if not (0.0 <= min_kept_fraction <= 1.0):
            raise ValidationError(
                f"min_kept_fraction out of range: {min_kept_fraction}"
            )
        rep = textops.source_reputation(
            self.documents, min_kept_fraction=min_kept_fraction
        ).orderBy(F.col("kept_fraction").asc(), F.col("source").asc())
        rows = [r.asDict() for r in rep.collect()]
        return {
            "data": rows,
            "n_sources": len(rows),
            "n_flagged": sum(1 for r in rows if not r["keep_source"]),
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/pii -----------------------------------------------------
    def pii_report(self, request_id: str | None = None) -> dict:
        """Corpus-level PII exposure summary: documents touched and match
        counts per category — what a compliance review asks before a
        training run (per-doc redacted text stays in the engine; the
        endpoint returns only aggregates)."""
        agg = textops.redact_pii(self.documents).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_pii") > 0).cast("long")).alias("docs_with_pii"),
            F.sum("n_email").alias("n_email"),
            F.sum("n_ipv4").alias("n_ipv4"),
            F.sum("n_phone").alias("n_phone"),
        )
        out = agg.collect()[0].asDict()
        out["request_id"] = new_request_id(request_id)
        return out

    # -- GET /corpus/boilerplate ---------------------------------------------
    def boilerplate_report(
        self,
        threshold: float = 0.5,
        segment_tokens: int | None = 3,
        request_id: str | None = None,
    ) -> dict:
        """Line-level duplication summary: how much of the corpus is
        boilerplate (docs whose duplicated-line fraction exceeds
        ``threshold``), plus the corpus-wide duplicated-line rate."""
        if not (0.0 <= threshold <= 1.0):
            raise ValidationError(f"threshold out of range: {threshold}")
        stats = textops.line_dedup_stats(
            self.documents, segment_tokens=segment_tokens
        )
        agg = stats.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("dup_line_fraction") > threshold).cast("long")).alias(
                "docs_over_threshold"
            ),
            F.sum("n_dup_lines").alias("n_dup_lines"),
            F.sum("n_lines").alias("n_lines"),
        )
        out = agg.collect()[0].asDict()
        out["dup_line_rate"] = (
            out["n_dup_lines"] / out["n_lines"] if out["n_lines"] else 0.0
        )
        out["threshold"] = threshold
        out["request_id"] = new_request_id(request_id)
        return out

    # -- GET /corpus/dup_profile ----------------------------------------------
    def dup_profile(
        self, normalized: bool = False, request_id: str | None = None
    ) -> dict:
        """Duplication histogram of the corpus: for each duplicate-cluster
        size, the cluster/document counts and corpus fraction, plus the
        headline dup_share (fraction of docs that are removable copies) —
        the one-page 'is a dedup pass worth it?' answer."""
        rows = [
            r.asDict()
            for r in textops.dup_cluster_profile(
                self.documents, normalized=normalized
            ).collect()
        ]
        n_docs = sum(r["n_docs"] for r in rows)
        n_clusters = sum(r["n_clusters"] for r in rows)
        return {
            "data": rows,
            "n_docs": n_docs,
            "dup_share": (n_docs - n_clusters) / n_docs if n_docs else 0.0,
            "normalized": normalized,
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/fertility --------------------------------------------------
    def fertility_report(self, request_id: str | None = None) -> dict:
        """Per-language tokenizer fertility profile (chars/token,
        tokens/doc) — 'will a tokenizer trained elsewhere fit this
        language mix?' from counts alone."""
        rows = textops.tokenizer_fertility(self.documents)
        return {
            "data": [r.asDict() for r in rows.collect()],
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/lang_mismatch ----------------------------------------------
    def lang_mismatch_report(
        self, limit: int = 100, request_id: str | None = None
    ) -> dict:
        """Language/source contamination: docs whose declared language
        differs from their source's dominant language, worst sources
        first (by per-source mismatch count), clamped to ``limit`` rows
        like the reference's pagination."""
        if limit is None or limit <= 0:
            limit = 100  # silent clamp, reference convention
        mm = textops.lang_source_mismatch(self.documents)
        per_source = (
            mm.groupBy("source", "dominant_lang")
            .agg(F.count(F.lit(1)).alias("n_mismatched"))
            .orderBy(F.col("n_mismatched").desc(), F.col("source").asc())
        )
        total = mm.count()
        return {
            "data": [r.asDict() for r in per_source.limit(limit).collect()],
            "n_mismatched_docs": total,
            "request_id": new_request_id(request_id),
        }

    # -- GET /corpus/health -------------------------------------------------
    def health_report(self, request_id: str | None = None) -> dict:
        """The one-call corpus health dashboard: every curation
        diagnostic (size, dup share, shingle sharing, fertility,
        contamination, quality keep rate) as {section: {key: value}}."""
        from admira_etl_project_prueba_spark.operators.profile import (
            corpus_health_report,
        )

        out: dict = {}
        for r in corpus_health_report(self.documents).collect():
            out.setdefault(r["section"], {})[r["key"]] = r["value"]
        return {"data": out, "request_id": new_request_id(request_id)}
