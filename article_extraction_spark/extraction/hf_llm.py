"""E7: model-backed generative extraction kernel (reference
models/llm.py:106-260).

The real deployment path the round-1 verdict asked for: an executor-cached
HF model drives windowed prompt generation with

  * decode-only-new-tokens for causal LMs (llm.py:146-151),
  * token-ID windows cut by the MODEL tokenizer (llm.py:153-186),
  * context budget = max_context − base-prompt tokens, with the
    truncate-and-retry overflow rule (llm.py:200-244),
  * first-non-empty-window-wins (llm.py:247-259).

torch/transformers import lazily INSIDE the backend constructor, so shipping
this module via --py-files needs neither. The model runtime is abstracted as
``GenerationBackend``: the full window/budget/dispatch logic is exercised
under a fake backend in tests/test_hf_kernels.py, and the real torch path is
covered by skip-marked tests that run wherever torch+transformers exist.
The executor-scoped cache is ``@lru_cache`` at module scope — with
``spark.python.worker.reuse`` (on by default) the model loads once per
worker process, the Spark analog of the reference's ``@lru_cache`` driver
cache.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

from .prompts import FIELD_TEMPLATES, render_prompt

DEFAULT_MODEL_ID = "google/flan-t5-small"
MAX_CONTEXT_TOKENS = 100_000  # reference config.py:4 (upper cap on detected limits)
DEFAULT_MAX_NEW_TOKENS = 64
DEFAULT_TEMPERATURE = 0.0
DEFAULT_TOP_P = 1.0


def assemble_generation_kwargs(
    *,
    pad_token_id,
    eos_token_id,
    max_new_tokens: int,
    temperature: float,
    top_p: float,
) -> dict:
    """Reference _generate_raw's generation-config assembly (llm.py:126-135),
    extracted pure so the seam is testable without torch: greedy decode when
    temperature == 0 (temperature/top_p omitted entirely — passing them with
    do_sample=False trips HF validation warnings and is not what the
    reference sends), pad falls back to eos when the tokenizer has no pad
    token, and None-valued entries are dropped."""
    do_sample = temperature > 0.0
    kwargs = {
        "max_new_tokens": max_new_tokens,
        "do_sample": do_sample,
        "temperature": temperature if do_sample else None,
        "top_p": top_p if do_sample else None,
        "pad_token_id": pad_token_id if pad_token_id is not None else eos_token_id,
        "eos_token_id": eos_token_id,
    }
    return {k: v for k, v in kwargs.items() if v is not None}


class GenerationBackend:
    """What hf_extract_fn needs from a model runtime.

    ``max_context``: usable context length in tokens.
    ``encode``/``decode``: tokenizer round-trip WITHOUT special tokens.
    ``generate``: prompt → NEW text only (the causal-LM echo is stripped
    inside the backend, reference llm.py:146-151).
    """

    max_context: int

    def encode(self, text: str) -> list[int]:
        raise NotImplementedError

    def decode(self, ids: list[int]) -> str:
        raise NotImplementedError

    def generate(
        self, prompt: str, *, max_new_tokens: int, temperature: float, top_p: float
    ) -> str:
        raise NotImplementedError


class TorchGenerationBackend(GenerationBackend):
    """Real HF runtime (reference _load_model_artifacts, llm.py:43-78)."""

    def __init__(self, model_id: str):
        try:
            import torch  # noqa: F401
            from transformers import (
                AutoConfig,
                AutoModelForCausalLM,
                AutoModelForSeq2SeqLM,
                AutoTokenizer,
            )
        except Exception as exc:  # pragma: no cover - env-dependent
            raise RuntimeError(
                "torch+transformers are required for the HF extraction backend"
            ) from exc

        import torch

        config = AutoConfig.from_pretrained(model_id)
        self.tokenizer = AutoTokenizer.from_pretrained(model_id, use_fast=True)
        self.is_encoder_decoder = bool(getattr(config, "is_encoder_decoder", False))
        cls = AutoModelForSeq2SeqLM if self.is_encoder_decoder else AutoModelForCausalLM
        self.model = cls.from_pretrained(model_id)
        self.device = "cuda" if torch.cuda.is_available() else "cpu"
        self.model.to(self.device)
        self.model.eval()
        self.max_context = _resolve_max_context(self.tokenizer, config)

    def encode(self, text: str) -> list[int]:
        return self.tokenizer.encode(text, add_special_tokens=False)

    def decode(self, ids: list[int]) -> str:
        return self.tokenizer.decode(ids, skip_special_tokens=True)

    def generate(
        self, prompt: str, *, max_new_tokens: int, temperature: float, top_p: float
    ) -> str:
        import torch

        enc = self.tokenizer(prompt, return_tensors="pt")
        input_ids = enc["input_ids"].to(self.device)
        attention_mask = enc.get("attention_mask")
        if attention_mask is not None:
            attention_mask = attention_mask.to(self.device)
        kwargs = assemble_generation_kwargs(
            pad_token_id=self.tokenizer.pad_token_id,
            eos_token_id=self.tokenizer.eos_token_id,
            max_new_tokens=max_new_tokens,
            temperature=temperature,
            top_p=top_p,
        )
        with torch.no_grad():
            out = self.model.generate(
                input_ids=input_ids, attention_mask=attention_mask, **kwargs
            )
        if self.is_encoder_decoder:
            return self.tokenizer.decode(out[0], skip_special_tokens=True)
        # decode ONLY the new tokens — never the echoed prompt
        return self.tokenizer.decode(out[0][input_ids.shape[1] :], skip_special_tokens=True)


def _resolve_max_context(tokenizer, config) -> int:
    """Reference _resolve_max_context_length (llm.py:80-99)."""
    candidates: list[int] = []
    for attr in (
        "max_position_embeddings",
        "n_positions",
        "max_sequence_length",
        "max_context_length",
        "seq_length",
    ):
        value = getattr(config, attr, None)
        if isinstance(value, int) and 0 < value <= 1_000_000:
            candidates.append(int(value))
    limit = getattr(tokenizer, "model_max_length", None)
    if isinstance(limit, int) and 0 < limit <= 1_000_000:
        candidates.append(int(limit))
    if not candidates:
        return MAX_CONTEXT_TOKENS
    return min(MAX_CONTEXT_TOKENS, max(candidates))


@lru_cache(maxsize=2)
def torch_backend(model_id: str) -> TorchGenerationBackend:
    """Executor-scoped model cache: one load per python worker process."""
    return TorchGenerationBackend(model_id)


def iter_token_id_windows(
    token_ids: list[int], window_tokens: int, stride_tokens: int
) -> Iterator[list[int]]:
    """Reference _iter_article_windows (llm.py:153-186) over token IDS."""
    if not token_ids:
        yield []
        return
    if window_tokens <= 0 or window_tokens >= len(token_ids):
        yield token_ids
        return
    stride = stride_tokens if stride_tokens > 0 else window_tokens
    start, total = 0, len(token_ids)
    while start < total:
        end = min(start + window_tokens, total)
        yield token_ids[start:end]
        if end >= total:
            break
        start += stride


def hf_extract_fn(
    text: str,
    field: str,
    *,
    backend: GenerationBackend | None = None,
    model_id: str = DEFAULT_MODEL_ID,
    window_tokens: int = MAX_CONTEXT_TOKENS,
    stride_tokens: int = 0,
    max_new_tokens: int = DEFAULT_MAX_NEW_TOKENS,
    temperature: float = DEFAULT_TEMPERATURE,
    top_p: float = DEFAULT_TOP_P,
    templates: dict[str, str] | None = None,
) -> str | None:
    """Reference extract_fn (llm.py:188-260) against a pluggable backend."""
    text = text or ""
    templates = templates or FIELD_TEMPLATES
    if field not in templates:
        return None
    if backend is None:
        backend = torch_backend(model_id)
    template = templates[field]

    base_tokens = len(backend.encode(render_prompt(template, "")))
    budget = max(0, backend.max_context - base_tokens)
    gen_kwargs = dict(
        max_new_tokens=max_new_tokens, temperature=temperature, top_p=top_p
    )
    if budget == 0:
        output = backend.generate(render_prompt(template, ""), **gen_kwargs)
        return output if output.strip() else None

    effective_window = window_tokens if window_tokens > 0 else budget
    effective_window = min(effective_window, budget)
    stride = stride_tokens if stride_tokens > 0 else effective_window

    for token_window in iter_token_id_windows(backend.encode(text), effective_window, stride):
        if not token_window:
            prompt = render_prompt(template, "")
        else:
            prompt = render_prompt(template, backend.decode(token_window))
        if len(backend.encode(prompt)) > backend.max_context:
            # truncate-and-retry, then skip (llm.py:236-244)
            allowed = min(budget, len(token_window))
            if allowed <= 0:
                continue
            prompt = render_prompt(template, backend.decode(token_window[:allowed]))
            if len(backend.encode(prompt)) > backend.max_context:
                continue
        output = backend.generate(prompt, **gen_kwargs)
        if output and output.strip():
            return output  # first non-empty window wins (llm.py:257-258)
    return None


def make_hf_extractor(model_id: str = DEFAULT_MODEL_ID, **kwargs):
    """Registry-compatible ExtractorFn. The closure captures only the model
    id + config strings; the model itself loads lazily per worker through
    torch_backend's lru_cache, so the task closure stays tiny and picklable."""

    def _extract(text: str, field: str):
        return hf_extract_fn(text, field, model_id=model_id, **kwargs)

    return _extract
