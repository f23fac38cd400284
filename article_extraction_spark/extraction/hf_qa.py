"""E8: model-backed QA span extraction (reference models/qa_squad.py:55-241).

The HF fast-tokenizer path the round-1 verdict asked for: overflowing token
windows (``return_overflowing_tokens`` + ``truncation="only_second"``),
per-window start/end logit matrices, joint upper-triangular argmax with the
≤ LMAX_TOK span cap, char-offset mapping back into the ORIGINAL context,
dedup-by-answer-keep-max-score, n_best, and best|longest|concat aggregation.

The model runtime is a pluggable ``QALogitsBackend`` that yields, per
overflowing window, the context tokens' char offsets plus their start/end
logits — the span-selection math itself is pure numpy and runs identically
under the fake backend in tests/test_hf_kernels.py. The real torch path is
covered by skip-marked tests wherever torch+transformers exist.
"""

from __future__ import annotations

from functools import lru_cache

LMAX_TOK = 30  # reference qa_squad.py:10
DEFAULT_MAX_LEN = 4096
DEFAULT_STRIDE = 1024
DEFAULT_MAX_ANSWER_CHARS = 200


class QALogitsBackend:
    """Yields per overflowing window: (offsets, start_logits, end_logits)
    restricted to CONTEXT tokens; offsets are (char_start, char_end) into the
    original context string."""

    def windows(self, question: str, context: str):
        raise NotImplementedError


def derive_qa_stride(max_len) -> tuple[int, int]:
    """Reference qa_squad.py:92-97 stride/max_length derivation, extracted
    pure so the seam is testable without transformers: returns
    (max_len, stride). Non-positive / non-int model_max_length falls back
    to DEFAULT_MAX_LEN; stride is min(DEFAULT_STRIDE, max_len // 2), with
    DEFAULT_STRIDE restored if that underflows to 0."""
    if not (isinstance(max_len, int) and max_len > 0):
        max_len = DEFAULT_MAX_LEN
    stride = min(DEFAULT_STRIDE, max_len // 2) if max_len else DEFAULT_STRIDE
    if stride <= 0:
        stride = DEFAULT_STRIDE
    return max_len, stride


def context_token_indices(seq_ids, offsets) -> list[int]:
    """Reference qa_squad.py:110-115 context-token selection, extracted
    pure: positions whose sequence id is 1 (the context segment in a
    question/context pair encoding) and whose char offset survived
    tokenization."""
    return [t for t, s in enumerate(seq_ids) if s == 1 and offsets[t] is not None]


class TorchQABackend(QALogitsBackend):
    """Real HF runtime (reference _load_qa_model + _qa_candidates encoding,
    qa_squad.py:61-121)."""

    def __init__(self, model_id: str):
        try:
            import torch  # noqa: F401
            from transformers import AutoModelForQuestionAnswering, AutoTokenizer
        except Exception as exc:  # pragma: no cover - env-dependent
            raise RuntimeError("torch+transformers required for the QA backend") from exc

        import torch

        self.tokenizer = AutoTokenizer.from_pretrained(model_id, use_fast=True)
        self.model = AutoModelForQuestionAnswering.from_pretrained(model_id)
        self.device = "cuda" if torch.cuda.is_available() else "cpu"
        self.model.to(self.device)
        self.model.eval()

    def windows(self, question: str, context: str):
        import torch

        max_len, stride = derive_qa_stride(
            getattr(self.tokenizer, "model_max_length", DEFAULT_MAX_LEN)
        )
        enc = self.tokenizer(
            question,
            context,
            return_offsets_mapping=True,
            return_overflowing_tokens=True,
            truncation="only_second",
            max_length=max_len,
            stride=stride,
            padding=False,
        )
        for i in range(len(enc["input_ids"])):
            # ONLY input_ids/attention_mask, matching the reference's
            # _qa_candidates (qa_squad.py:117-120) exactly — it does not
            # forward token_type_ids, so neither do we: real-model logits
            # must be bit-comparable to the reference's, even though BERT-
            # family models would use the segment ids if given (ADVICE r2).
            inputs = {
                k: torch.tensor(v[i]).unsqueeze(0).to(self.device)
                for k, v in enc.items()
                if k in ("input_ids", "attention_mask")
            }
            with torch.no_grad():
                out = self.model(**inputs)
            start = out.start_logits[0].detach().cpu().numpy()
            end = out.end_logits[0].detach().cpu().numpy()
            seq_ids = enc.sequence_ids(i)
            offs = enc["offset_mapping"][i]
            ctx = context_token_indices(seq_ids, offs)
            if not ctx:
                continue
            yield [offs[t] for t in ctx], start[ctx], end[ctx]


@lru_cache(maxsize=2)
def torch_qa_backend(model_id: str) -> TorchQABackend:
    """Executor-scoped model cache (one load per python worker)."""
    return TorchQABackend(model_id)


def select_span(offsets, start_logits, end_logits) -> tuple[int, int, float] | None:
    """Joint argmax over the upper-triangular, length-capped score matrix
    (reference qa_squad.py:124-148) — pure numpy, backend-independent.
    Returns (char_start, char_end, score) or None."""
    import numpy as np

    s = np.asarray(start_logits, dtype="float64")
    e = np.asarray(end_logits, dtype="float64")
    n = s.shape[0]
    if n == 0:
        return None
    ii = np.arange(n)
    valid = (ii[None, :] >= ii[:, None]) & ((ii[None, :] - ii[:, None] + 1) <= LMAX_TOK)
    if not valid.any():
        return None
    joint = np.where(valid, s[:, None] + e[None, :], -np.inf)
    flat = int(np.argmax(joint))
    i, j = divmod(flat, n)
    st = offsets[i][0]
    ed = offsets[j][1]
    if st is None or ed is None or ed <= st:
        return None
    return int(st), int(ed), float(joint[i, j])


def qa_candidates(
    question: str,
    context: str,
    backend: QALogitsBackend,
    n_best: int = 3,
    max_answer_chars: int = DEFAULT_MAX_ANSWER_CHARS,
) -> list[tuple[str, float]]:
    """Reference _qa_candidates (qa_squad.py:102-161): one best span per
    overflowing window → strip + truncate → dedup keep max → ranked n_best."""
    candidates: list[tuple[str, float]] = []
    for offsets, start_logits, end_logits in backend.windows(question, context):
        picked = select_span(offsets, start_logits, end_logits)
        if picked is None:
            continue
        st, ed, score = picked
        ans = context[st:ed].strip()
        if not ans:
            continue
        candidates.append((ans[:max_answer_chars], score))
    best: dict[str, float] = {}
    for a, sc in candidates:
        if a not in best or sc > best[a]:
            best[a] = sc
    ranked = sorted(best.items(), key=lambda x: x[1], reverse=True)
    return ranked[: max(1, n_best)]


def aggregate_answers_py(answers: list[tuple[str, float]], mode: str) -> str:
    """Reference _aggregate (qa_squad.py:40-48), byte-exact semantics:
    concat joins non-empty answers in LIST order; longest/best take the
    FIRST max (python max tie-breaking)."""
    if not answers:
        return ""
    if mode == "concat":
        return " ".join(a for a, _ in answers if a)
    if mode == "longest":
        return max(answers, key=lambda x: len(x[0]))[0]
    return max(answers, key=lambda x: x[1])[0]


def _iter_char_windows(text: str, window: int, stride: int):
    """Reference _iter_windows (qa_squad.py:27-38)."""
    if window <= 0 or stride <= 0:
        yield text
        return
    n = len(text)
    i = 0
    while i < n:
        yield text[i : i + window]
        if i + window >= n:
            break
        i += stride


def hf_qa_extract_fn(
    text: str,
    field: str,
    *,
    question_map: dict[str, str],
    backend: QALogitsBackend | None = None,
    model_id: str | None = None,
    window: int = 500,
    stride: int = 200,
    max_answer_chars: int = DEFAULT_MAX_ANSWER_CHARS,
    n_best: int = 3,
    aggregator: str = "best",
) -> str | None:
    """Reference extract_fn (qa_squad.py:164-241) minus the tqdm/printing:
    char windows over the article, QA candidates per window, snippet
    fallback when nothing scored, then aggregation."""
    if not text or not field:
        return ""
    if field not in question_map:
        return None  # unmapped fields → NULL
    if backend is None:
        if model_id is None:
            raise ValueError("hf_qa_extract_fn needs a backend or model_id")
        backend = torch_qa_backend(model_id)
    question = question_map[field]
    answers: list[tuple[str, float]] = []
    for chunk in _iter_char_windows(text, window, stride):
        for ans, score in qa_candidates(
            question, chunk, backend, n_best=n_best, max_answer_chars=max_answer_chars
        )[: max(1, n_best)]:
            ans = (ans or "").strip()[:max_answer_chars]
            if ans:
                answers.append((ans, float(score)))
    if not answers:
        return (text or "").strip()[:max_answer_chars]  # snippet fallback (:227-229)
    return aggregate_answers_py(answers, aggregator)
