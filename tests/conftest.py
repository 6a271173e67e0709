import sys
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from linkgraph.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="linkgraph-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


def edges_numpy(graph):
    """Collect an edge table to (src, dst, w) numpy arrays + V."""
    ep = graph.edges.toPandas()
    n = graph.vertices.count()
    return (
        ep["src"].to_numpy(np.int64),
        ep["dst"].to_numpy(np.int64),
        ep["w"].to_numpy(np.float64),
        int(n),
    )


def ranks_numpy(ranks_df, n):
    rp = ranks_df.toPandas()
    out = np.zeros(n)
    out[rp["vid"].to_numpy(np.int64)] = rp["rank"].to_numpy(np.float64)
    return out


def job_descriptions(sc) -> dict[int, str]:
    """jobId -> description of every job in the status store, after the
    listener bus has caught up."""
    import json

    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    jvm = sc._jvm  # noqa: SLF001
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    jobs = sc._jsc.sc().statusStore().jobsList(jvm.java.util.ArrayList())  # noqa: SLF001
    return {j["jobId"]: j.get("description") for j in json.loads(mapper.writeValueAsString(jobs))}
