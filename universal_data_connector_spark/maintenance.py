"""Offline store maintenance shared by the CLI flags and the REST
control plane: compaction for the dedup_state seen stores (appends
grow each touched bucket by one file per run; compaction restores
O(distinct state) reads) and vacuum for the CAS-committed object-store
state-sink targets (reclaims generations no pointer references).

Both walk a parsed pipeline config for the stores it declares, so the
maintenance surface can never drift from the ingestion surface — the
same properties that route a transformation/sink onto a store route
its maintenance. Run offline: neither is safe concurrently with a
writer of the same store (the compactors' own docstrings carry the
argument).
"""

from __future__ import annotations


def compact_stores(spark, cfg, keep_going=None) -> list[dict]:
    """Compact every dedup_state seen store referenced by ``cfg``
    (exact, near and embedding stores alike — the compactors walk
    whichever sub-stores exist), deduplicated so a store shared by
    several pipelines compacts once. Returns one summary dict per
    store. ``keep_going`` (optional callable) is re-checked between
    STORES: an async-maintenance stop() lands at the next store
    boundary instead of running the remaining stores to completion —
    each store's own compaction stays atomic (lease-scoped), so an
    abort never leaves a store half-compacted."""
    from universal_data_connector_spark.engine import dedup_state_store
    from universal_data_connector_spark.operators.dedup_state import (
        compact_seen_store,
    )

    done, seen = [], set()
    for p in cfg.pipelines:
        for t in p.transformations:
            if keep_going is not None and not keep_going():
                return done
            if t.type != "dedup_state":
                continue
            store = dedup_state_store(t.properties)
            if store is None or store.label in seen:
                continue
            seen.add(store.label)
            deleted = compact_seen_store(spark, store)
            done.append({"store": store.label} if deleted is None else
                        {"store": store.label,
                         "superseded_deleted": deleted})
    return done


def vacuum_stores(cfg, keep_going=None) -> list[dict]:
    """Vacuum every object-store state-sink target referenced by
    ``cfg`` (sink types ``upsert``/``agg_state`` with ``bucketName``),
    deduplicated. Co-located dedup seen stores are excluded by
    ``vacuum_target`` itself. Returns one summary dict per target.
    ``keep_going`` as in ``compact_stores`` — vacuum runs no Spark
    jobs, so a stop()'s job-group cancel alone could never reach it
    (r17 review)."""
    from universal_data_connector_spark.sinks.upsert import (
        s3_state_target,
    )
    from universal_data_connector_spark.streaming.object_state import (
        vacuum_target,
    )

    done, seen = [], set()
    for p in cfg.pipelines:
        if keep_going is not None and not keep_going():
            return done
        props = p.sink.properties if p.sink else {}
        if (p.sink and p.sink.type in ("upsert", "agg_state")
                and props.get("bucketName")):
            label = (f"s3://{props['bucketName']}/"
                     f"{props.get('prefix') or ''}")
            if label in seen:
                continue
            seen.add(label)
            done.append({"store": label,
                         "deleted": vacuum_target(s3_state_target(props))})
    return done
