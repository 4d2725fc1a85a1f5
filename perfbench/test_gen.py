"""The seed alone decides the generated inputs. Run from the repository
root: python3 -m pytest perfbench -q"""

import numpy as np

from gen import BATCH_ID_BASE, Inputs

TEXTS = ["spark stream window join", "the query plan of a join", "stream merge data key"]
VECTORS = np.arange(24, dtype=float).reshape(6, 4)


def _draw(seed: int):
    inputs = Inputs(seed, TEXTS, VECTORS)
    return (inputs.query_texts(5), inputs.query_vectors(3), inputs.batch(4), inputs.batch(4))


def test_same_seed_same_inputs_and_other_seed_differs():
    assert _draw(7) == _draw(7)
    assert _draw(7) != _draw(8)


def test_queries_use_corpus_terms_without_stopwords():
    inputs = Inputs(1, TEXTS, VECTORS)
    for q in inputs.query_texts(50):
        words = q.split()
        assert 2 <= len(words) <= 4 and len(set(words)) == len(words)
        assert not {"the", "of", "a"} & set(words)
        assert set(words) <= set(" ".join(TEXTS).split())


def test_batches_have_fresh_ids_and_unique_markers():
    inputs = Inputs(1, TEXTS, VECTORS)
    ids1, texts1 = inputs.batch(4)
    ids2, texts2 = inputs.batch(4)
    assert ids1 == list(range(BATCH_ID_BASE, BATCH_ID_BASE + 4))
    assert ids2 == list(range(BATCH_ID_BASE + 4, BATCH_ID_BASE + 8))
    markers = [t.split()[-1] for t in texts1 + texts2]
    assert len(set(markers)) == 8
    assert all(m not in " ".join(TEXTS) for m in markers)
