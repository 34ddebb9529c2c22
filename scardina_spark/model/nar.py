"""Non-autoregressive masked-autoencoder density model, in NumPy.

Reference semantics (NOT code): scardina/models.py — per-column embeddings
with MASK at index 0 (M3), a shared MLP trunk, tied-weight decoding
(logits = hidden @ embeddingᵀ), and the masked-AE training step (M4):
for each sample, mask a random non-empty strict subset of columns and
minimize mean cross-entropy of the masked columns given the rest.

Torch is not available in this environment, so forward/backward/Adam are
hand-written NumPy — small models (d_word 16-32, d_ff 64-128) train in
seconds on the ≤500k-row encoded join sample that Spark materializes.
Spark feeds the model (encoding pipeline, functions/dictionary.py); the
model itself is driver-side by design, mirroring the reference's
"Spark for data, external trainer for the density model" split
(SURVEY §7 north star).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass
class TrainConfig:
    d_word: int = 16
    d_ff: int = 64
    epochs: int = 20
    batch_size: int = 1024
    lr: float = 5e-3
    seed: int = 42
    # the reference's ``smaller_emb`` embedding-size heuristics
    # (scardina/models.py:24-60): a mode string combining "bound" (cap
    # each column's embedding width at its domain size — tiny domains
    # like flags/markers stop wasting d_word-wide rows) and
    # "continuous" (1-wide embeddings for fanout-like columns, which
    # carry a single ordinal signal).  "" keeps uniform d_word widths
    # (bit-identical to the pre-flag models).
    smaller_emb: str = ""


def _softmax(z: np.ndarray) -> np.ndarray:
    """In-place row softmax (same subtract-max / exp / normalize ops as
    the allocating form, so values are bit-identical — it only reuses
    ``z``'s buffer).  Every caller passes a fresh logits/scores array it
    never reads again; pass a copy if the input must survive."""
    z -= z.max(axis=-1, keepdims=True)
    np.exp(z, out=z)
    z /= z.sum(axis=-1, keepdims=True)
    return z


class AdamFit:
    """The training loop both NAR architectures share: ``cfg.epochs``
    passes over a seeded permutation of the rows in ``cfg.batch_size``
    batches, each one ``train_step`` (defined by the subclass) that ticks
    ``_adam_t`` and applies :meth:`_adam` to every parameter."""

    def _adam(self, idx: int, param: np.ndarray, grad: np.ndarray) -> None:
        beta1, beta2, eps = 0.9, 0.999, 1e-8
        m, v = self._adam_state.get(idx, (np.zeros_like(param),
                                          np.zeros_like(param)))
        m = beta1 * m + (1 - beta1) * grad
        v = beta2 * v + (1 - beta2) * grad * grad
        self._adam_state[idx] = (m, v)
        t = self._adam_t
        mh = m / (1 - beta1 ** t)
        vh = v / (1 - beta2 ** t)
        param -= self.cfg.lr * mh / (np.sqrt(vh) + eps)

    def fit(self, codes: np.ndarray) -> list[float]:
        rs = np.random.RandomState(self.cfg.seed + 1)
        losses = []
        n = codes.shape[0]
        for _ in range(self.cfg.epochs):
            order = rs.permutation(n)
            ep_loss, nb = 0.0, 0
            for s in range(0, n, self.cfg.batch_size):
                batch = codes[order[s:s + self.cfg.batch_size]]
                ep_loss += self.train_step(batch, rs)
                nb += 1
            losses.append(ep_loss / max(nb, 1))
        return losses


@dataclass
class NarMLP(AdamFit):
    """input_bins: [(col_name, dom_size)] — dom_size INCLUDES the MASK/NULL
    slots (codes 0..dom_size-1).

    ``continuous`` columns (the reference's ``--cont-fanout`` mode,
    scardina/common.py:536-548 + models.py:71-74,107-117) carry a float
    value (log2 fanout) instead of dictionary codes: the input is the
    2-dim (present-flag, value) pair linearly embedded to d_word, the
    output head is a scalar regression trained with MSE over masked cells.
    Their ``dom_size`` entry is ignored."""

    input_bins: list[tuple[str, int]]
    cfg: TrainConfig = field(default_factory=TrainConfig)
    continuous: frozenset = frozenset()

    def _emb_dim(self, col: str, dom: int) -> int:
        """Per-column embedding width under ``cfg.smaller_emb``
        (reference scardina/models.py:35-60): "bound" caps the width at
        the domain size, "continuous" gives fanout-like columns
        (regressed fanouts, ``__adj_fanout__`` dictionary fanouts,
        ``*_year``) a 1-wide embedding; both combine.  Default "": a
        uniform d_word, the pre-flag layout."""
        mode = self.cfg.smaller_emb
        d = self.cfg.d_word
        cont_like = (col in self.continuous or "__adj_fanout__:" in col
                     or col.endswith("_year"))
        if "bound" in mode and "continuous" in mode:
            return min(1 if cont_like else d, max(dom, 1))
        if "bound" in mode:
            return min(d, max(dom, 1))
        if "continuous" in mode and cont_like:
            return 1
        return d

    def __post_init__(self):
        rs = np.random.RandomState(self.cfg.seed)
        h = self.cfg.d_ff
        self.cols = [c for c, _ in self.input_bins]
        self.doms = [n for _, n in self.input_bins]
        self.C = len(self.cols)
        self.is_cont = np.array([c in self.continuous for c in self.cols])
        # per-column embedding widths (uniform d_word unless smaller_emb
        # shrinks them) and their offsets into the concatenated input
        self.dims = [self._emb_dim(c, n)
                     for c, n in zip(self.cols, self.doms)]
        self.offs = np.concatenate([[0], np.cumsum(self.dims)]).astype(int)
        D = int(self.offs[-1])
        # per-column embedding (row 0 = MASK); tied decode.  Continuous
        # columns: emb = the [2, dj] (flag, value) input projection and
        # P = the [h, 1] regression head.
        f32 = np.float32  # training is BLAS-bandwidth-bound; fp32
        # halves it with no measurable q-error cost
        self.emb = [(rs.randn(2, self.dims[j]) * 0.1).astype(f32)
                    if self.is_cont[j]
                    else (rs.randn(n, self.dims[j]) * 0.1).astype(f32)
                    for j, n in enumerate(self.doms)]
        self.W1 = (rs.randn(D, h) * np.sqrt(2.0 / D)).astype(f32)
        self.b1 = np.zeros(h, dtype=f32)
        self.W2 = (rs.randn(h, h) * np.sqrt(2.0 / h)).astype(f32)
        self.b2 = np.zeros(h, dtype=f32)
        # per-column projection back to embedding space
        self.P = [(rs.randn(h, 1) * np.sqrt(2.0 / h)).astype(f32)
                  if self.is_cont[j]
                  else (rs.randn(h, self.dims[j]) * np.sqrt(2.0 / h)).astype(f32)
                  for j in range(self.C)]
        self._adam_state: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._adam_t = 0

    # -- forward ----------------------------------------------------------

    def _encode(self, codes: np.ndarray, mask: np.ndarray,
                eff: np.ndarray | None = None) -> np.ndarray:
        """codes [B, C] int (float matrix accepted when continuous columns
        exist — categorical entries are cast); mask [B, C] bool (True =
        masked → MASK emb / zero pair).  ``eff`` optionally passes the
        caller's precomputed ``np.where(mask, 0, codes)`` so the train
        step does not build it twice (identical values either way)."""
        B = codes.shape[0]
        x = np.empty((B, int(self.offs[-1])), dtype=self.W1.dtype)
        if eff is None:
            eff = np.where(mask, 0, codes)
        cast = eff if eff.dtype == np.int64 else None
        for j in range(self.C):
            sl = slice(self.offs[j], self.offs[j + 1])
            if self.is_cont[j]:
                flag = (~mask[:, j]).astype(np.float32)
                val = np.where(mask[:, j], 0.0, codes[:, j].astype(np.float32))
                x[:, sl] = np.stack([flag, val], axis=1) @ self.emb[j]
            else:
                idx = (cast[:, j] if cast is not None
                       else eff[:, j].astype(np.int64))
                x[:, sl] = self.emb[j][idx]
        return x

    def _trunk(self, x: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        z1 = x @ self.W1 + self.b1
        a1 = np.maximum(z1, 0.0)
        z2 = a1 @ self.W2 + self.b2
        a2 = np.maximum(z2, 0.0)
        return z1, a1, a2

    def _masked_consts(self) -> np.ndarray:
        """``[C, h]`` — column j's contribution to ``z1`` when its whole
        block is masked (categorical: the MASK embedding through W1;
        continuous: the (0, 0) pair embeds to zero, so zero).  Cached
        per weight state (``_adam_t`` ticks every train step, ``id(W1)``
        changes on ``load``), so serving pays the C small mat-vecs
        once, not per call."""
        key = (self._adam_t, id(self.W1))
        if getattr(self, "_mc_key", None) != key:
            mc = np.zeros((self.C, self.W1.shape[1]), dtype=self.W1.dtype)
            for j in range(self.C):
                if not self.is_cont[j]:
                    sl = slice(self.offs[j], self.offs[j + 1])
                    mc[j] = self.emb[j][0] @ self.W1[sl]
            self._mc, self._mc_key = mc, key
        return self._mc

    def _hidden(self, codes: np.ndarray, mask: np.ndarray) -> np.ndarray:
        """Final hidden activations ``a2`` — the SERVING path.

        Progressive sampling calls this once per DISTINCT input row of
        its Monte-Carlo batch (``progressive.distinct_rows``), not once
        per sample: the S rows share their conditioning prefixes, so
        ``B`` is tens of rows where S is a thousand.  Those rows mask
        most columns in every row (a JOB-light query touches ~3 of ~37
        model columns), and a fully-masked block's contribution to
        ``z1`` is a constant vector, not a GEMM: factoring those out
        shrinks the input GEMM from ``[B, Σd_j] @ [Σd_j, h]`` to the
        active columns only (~6× fewer flops at the bench shapes).  It
        stays faster at distinct-row batch sizes: with 37 columns,
        d_word 24, d_ff 64 and 3 active, best of 7×200 calls on a
        4-vCPU Xeon took 47 / 73 / 626 µs at B = 1 / 30 / 1000 against
        119 / 320 / 3848 µs for the dense trunk.
        Numerics: float32 summation is re-associated versus the dense
        product (``_trunk(_encode(...))``, still taken when more than
        half the columns are active), so logits can drift at the last
        ulp; the equivalence is test-pinned to 1e-4.  Training never
        comes through here (backprop needs the full ``x``)."""
        allm = mask.all(axis=0)
        act = np.flatnonzero(~allm)
        if len(act) > self.C // 2:
            return self._trunk(self._encode(codes, mask))[2]
        B = codes.shape[0]
        z1c = (self._masked_consts()[np.flatnonzero(allm)].sum(axis=0)
               + self.b1)
        if len(act):
            dims_act = [self.dims[j] for j in act]
            xa = np.empty((B, int(np.sum(dims_act))), dtype=self.W1.dtype)
            rows = []
            off = 0
            for j, dj in zip(act, dims_act):
                out = slice(off, off + dj)
                if self.is_cont[j]:
                    flag = (~mask[:, j]).astype(np.float32)
                    val = np.where(mask[:, j], 0.0,
                                   codes[:, j].astype(np.float32))
                    xa[:, out] = np.stack([flag, val], axis=1) @ self.emb[j]
                else:
                    eff = np.where(mask[:, j], 0, codes[:, j])
                    xa[:, out] = self.emb[j][eff.astype(np.int64)]
                rows.append(self.W1[self.offs[j]:self.offs[j + 1]])
                off += dj
            z1 = xa @ np.concatenate(rows, axis=0) + z1c
        else:
            z1 = np.broadcast_to(z1c, (B, z1c.shape[0]))
        a1 = np.maximum(z1, 0.0)
        z2 = a1 @ self.W2 + self.b2
        return np.maximum(z2, 0.0)

    def logits_for(self, codes: np.ndarray, mask: np.ndarray, j: int
                   ) -> np.ndarray:
        """Logits over column j's domain for each row (MASK slot included —
        callers zero it)."""
        assert not self.is_cont[j], f"{self.cols[j]} is continuous"
        h = self._hidden(codes, mask)
        return (h @ self.P[j]) @ self.emb[j].T

    def regress_for(self, codes: np.ndarray, mask: np.ndarray, j: int
                    ) -> np.ndarray:
        """Predicted value of continuous column j per row (conditional-mean
        regression; the reference decodes fanout as ``2**regressed``,
        scardina/estimators.py:374-376)."""
        assert self.is_cont[j], f"{self.cols[j]} is not continuous"
        h = self._hidden(codes, mask)
        return (h @ self.P[j]).ravel()

    # -- training ---------------------------------------------------------

    def train_step(self, codes: np.ndarray, rs: np.random.RandomState) -> float:
        """One masked-AE step on a batch of dictionary codes [B, C]."""
        B = codes.shape[0]
        # mask a random non-empty strict subset of columns per row
        # (vectorized uniform-subset draw: the n_mask smallest of C iid
        # uniforms per row are a uniform n_mask-subset)
        n_mask = rs.randint(1, self.C) if self.C > 1 else 1
        mask = np.zeros((B, self.C), dtype=bool)
        pick = np.argpartition(rs.rand(B, self.C), n_mask - 1,
                               axis=1)[:, :n_mask]
        np.put_along_axis(mask, pick, True, axis=1)

        eff = np.where(mask, 0, codes)
        x = self._encode(codes, mask, eff)
        z1, a1, h = self._trunk(x)
        arange_b = np.arange(B)

        gP = [None] * self.C
        gE_out = [None] * self.C
        total_loss, total_cnt = 0.0, 0
        denom = n_mask * B  # total masked cells this batch (loss normalizer)

        # fused per-column heads: one [B, h] @ [h, Σdj] matmul projects every
        # categorical column at once, and the whole backward through the
        # heads collapses to one matmul pair (dh, gP) — the per-column work
        # left inside the loop is only the (masked-rows × small-domain)
        # logits/softmax, which is O(masked cells · d_word · dom).
        cat = [j for j in range(self.C) if not self.is_cont[j]]
        d_all = 0
        slices = {}
        for j in cat:
            slices[j] = slice(d_all, d_all + self.dims[j])
            d_all += self.dims[j]
        P_cat = (np.concatenate([self.P[j] for j in cat], axis=1)
                 if cat else np.zeros((h.shape[1], 0)))
        proj_all = h @ P_cat                            # [B, Σd]
        dproj_all = np.zeros_like(proj_all)

        for j in cat:
            rows = np.where(mask[:, j])[0]
            if rows.size == 0:
                continue
            proj = proj_all[rows, slices[j]]            # [R, d]
            logits = proj @ self.emb[j].T               # [R, dom]
            logits[:, 0] = -1e9                        # MASK never predicted
            p = _softmax(logits)
            y = codes[rows, j].astype(np.int64)
            ar = arange_b[:rows.size]
            total_loss += -np.log(np.maximum(p[ar, y], 1e-12)).sum()
            total_cnt += rows.size

            dlogits = p
            dlogits[ar, y] -= 1.0
            dlogits /= denom
            dproj_all[rows, slices[j]] = dlogits @ self.emb[j]
            gE_out[j] = dlogits.T @ proj                # [dom, d]

        dh = dproj_all @ P_cat.T
        gP_cat = h.T @ dproj_all                        # [h, Σd]
        for j in cat:
            gP[j] = gP_cat[:, slices[j]]

        for j in range(self.C):
            if not self.is_cont[j]:
                continue
            rows = np.where(mask[:, j])[0]
            if rows.size == 0:
                continue
            hj = h[rows]
            # MSE regression head (reference: MSE for continuous fanouts,
            # scardina/models.py:322-338)
            pred = (hj @ self.P[j]).ravel()             # [R]
            y = codes[rows, j].astype(np.float64)
            diff = pred - y
            total_loss += (diff * diff).sum()
            total_cnt += rows.size
            dpred = (2.0 * diff / denom)[:, None]       # [R, 1]
            gP[j] = hj.T @ dpred
            dh[rows] += dpred @ self.P[j].T

        # trunk backward
        dz2 = dh * (h > 0)
        gW2 = a1.T @ dz2
        gb2 = dz2.sum(axis=0)
        da1 = dz2 @ self.W2.T
        dz1 = da1 * (a1 > 0)
        gW1 = x.T @ dz1
        gb1 = dz1.sum(axis=0)
        dx = dz1 @ self.W1.T

        # embedding (input-side) gradients (``eff`` hoisted above _encode)
        eff_i64 = eff if eff.dtype == np.int64 else None
        self._adam_t += 1
        pid = 0
        self._adam(pid, self.W1, gW1); pid += 1
        self._adam(pid, self.b1, gb1); pid += 1
        self._adam(pid, self.W2, gW2); pid += 1
        self._adam(pid, self.b2, gb2); pid += 1
        for j in range(self.C):
            dxj = dx[:, self.offs[j]:self.offs[j + 1]]
            if self.is_cont[j]:
                gE = np.zeros_like(self.emb[j])
                # input was [flag, value] @ emb over unmasked rows
                u = ~mask[:, j]
                if u.any():
                    inp = np.stack([np.ones(int(u.sum())),
                                    codes[u, j].astype(np.float64)], axis=1)
                    gE += inp.T @ dxj[u]
            else:
                idx = (eff_i64[:, j] if eff_i64 is not None
                       else eff[:, j].astype(np.int64))
                if self.doms[j] <= 2048:
                    # scatter-add as a one-hot matmul: BLAS beats
                    # np.add.at's per-element dispatch for small domains
                    # (writing the product directly — adding it onto a
                    # zero matrix, as before, gives the same values)
                    onehot = np.zeros((B, self.doms[j]), dtype=np.float32)
                    onehot[arange_b, idx] = 1.0
                    gE = onehot.T @ dxj
                else:
                    gE = np.zeros_like(self.emb[j])
                    np.add.at(gE, idx, dxj)
            if gP[j] is not None:
                self._adam(pid, self.P[j], gP[j])
            if gE_out[j] is not None:
                gE += gE_out[j]
            pid += 1
            self._adam(pid, self.emb[j], gE)
            pid += 1

        return total_loss / max(total_cnt, 1)

    # -- persistence ------------------------------------------------------

    def save(self, path: str) -> None:
        arrs = {"W1": self.W1, "b1": self.b1, "W2": self.W2, "b2": self.b2}
        for j in range(self.C):
            arrs[f"emb_{j}"] = self.emb[j]
            arrs[f"P_{j}"] = self.P[j]
        np.savez_compressed(path, cols="|".join(self.cols),
                            doms=np.array(self.doms),
                            cont=self.is_cont.astype(np.int8),
                            d_word=self.cfg.d_word, d_ff=self.cfg.d_ff,
                            smaller_emb=self.cfg.smaller_emb, **arrs)

    @classmethod
    def load(cls, path: str) -> "NarMLP":
        z = np.load(path, allow_pickle=False)
        cols = str(z["cols"]).split("|")
        doms = [int(x) for x in z["doms"]]
        cfg = TrainConfig(d_word=int(z["d_word"]), d_ff=int(z["d_ff"]),
                          smaller_emb=(str(z["smaller_emb"])
                                       if "smaller_emb" in z else ""))
        cont = frozenset(c for c, f in zip(cols, z["cont"])
                         if f) if "cont" in z else frozenset()
        m = cls(list(zip(cols, doms)), cfg, continuous=cont)
        m.W1, m.b1 = z["W1"], z["b1"]
        m.W2, m.b2 = z["W2"], z["b2"]
        m.emb = [z[f"emb_{j}"] for j in range(len(cols))]
        m.P = [z[f"P_{j}"] for j in range(len(cols))]
        return m
