"""The benchmark's workloads, by name (module, class), imported on use."""

import importlib

WORKLOADS = {
    "bake_flagship": ("workloads.flagship", "BakeFlagship"),
    "train_serve": ("workloads.train_serve", "TrainServe"),
    "corpus_curate": ("workloads.corpus_curate", "CorpusCurate"),
    "stream_features": ("workloads.stream", "StreamFeatures"),
}


def load(name: str):
    mod, cls = WORKLOADS[name]
    return getattr(importlib.import_module(mod), cls)
