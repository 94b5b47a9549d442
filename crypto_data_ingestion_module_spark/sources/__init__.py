"""Sources: venue configuration dimension, raw-payload normalizers, fetch
task manifests, and the (mockable) exchange fetch layer."""
