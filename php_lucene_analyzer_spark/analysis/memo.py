"""The analysis chain's one memo: a pure per-token function applied to
each unique token once per process — the vocabulary-level trick (SURVEY
§4): a corpus's vocabulary is tiny next to its token stream."""


class Memo(dict):
    """key -> fn(key), computed on first use and kept while the memo
    holds fewer than ``cap`` entries."""

    def __init__(self, fn, cap: int):
        super().__init__()
        self.fn, self.cap = fn, cap

    def __missing__(self, key):
        v = self.fn(key)
        if len(self) < self.cap:
            self[key] = v
        return v
