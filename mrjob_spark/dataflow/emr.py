"""``-r emr``: run a :class:`SparkMRJob` on Amazon EMR — the reference's
``EMRJobRunner`` re-expressed for this engine (``mrjob/emr.py`` +
``mrjob/cloud.py`` + ``mrjob/pool.py`` are the behavioral contract;
nothing is translated from them).

Control plane only, like ``-r hadoop``: the driver uploads support files
and inputs to S3, creates (or joins, or pool-reuses) a cluster, submits
one ``command-runner.jar``/``hadoop-streaming`` step per
:class:`~mrjob_spark.dataflow.step.MRStep` (Args rendered by the SAME
:class:`~mrjob_spark.dataflow.hadoop.StreamingStepRenderer` the
``-r hadoop`` runner uses, so task commands, wire protocols, and
jobconf/cmdenv plumbing are identical across runners), polls step state
with the reference's observation loop (``PENDING`` logs the cluster
state, ``RUNNING`` releases the pool lock, terminal states fetch
counters or diagnose), and reads results straight from S3. Job data
never flows through the driver: step N's S3 output prefix is step N+1's
``-input``, and ``cat_output()`` streams part objects one at a time —
at 100 TB the driver holds command lines and the counter dict.

Cluster pooling follows ``mrjob/pool.py``'s tag protocol: pooled
clusters carry ``__mrjob_pool_name`` / ``__mrjob_pool_hash`` tags (the
hash covers everything that must match for reuse: release label,
instance shape, bootstrap, applications), and joining is guarded by the
``__mrjob_pool_lock`` tag dance — write ``"<job key> <expiry>"``,
re-describe, and proceed only if our lock survived
(``mrjob/pool.py:589-711``). If a pooled cluster self-terminates under
the job (spot loss — detected via the reference's message shape,
``mrjob/emr.py:219-221``), the runner retries ONCE on a fresh
non-pooled cluster.

Counters come from the step's ``stderr.gz`` driver log in the cluster's
S3 log bucket (EMR's layout: ``<log>/<cluster>/steps/<step>/``), parsed
by the same interpreter as ``-r hadoop``; failures scan
``<log>/<cluster>/containers/**`` through the shared task-log pattern
library (``dataflow/errors.py``).

IAM roles bootstrap via :mod:`mrjob_spark.dataflow.iam` (round 9):
get-or-create content-matched ``mrjob-spark-*`` roles, console-default
fallback on a 403. Out of scope by environment (SURVEY §1.4):
spot-bid negotiation and the EC2 price/compute-unit tables — the mock
cluster has no network or prices. Tested end-to-end against the
EXECUTING mock service
(:mod:`mrjob_spark.testing.mockemr`); on real AWS the same code paths
drive boto3 clients (``region`` opt), which this sandbox can't reach.
"""

from __future__ import annotations

import getpass
import gzip
import hashlib
import json
import logging
import os
import posixpath
import re
import sys
import tempfile
import time
from typing import Iterator, Optional

from mrjob_spark.dataflow.hadoop import (
    StreamingStepRenderer,
    _zip_package,
    interpret_driver_stderr,
)
from mrjob_spark.dataflow.objectstore import iter_objects, key_within

_log = logging.getLogger(__name__)

#: the 4.x+ intermediary jar EMR launches everything through
_COMMAND_RUNNER_JAR = "command-runner.jar"

#: pooling tag names (the reference's, mrjob/pool.py:50-52,555)
_POOL_NAME_TAG = "__mrjob_pool_name"
_POOL_HASH_TAG = "__mrjob_pool_hash"
_POOL_LOCK_TAG = "__mrjob_pool_lock"

#: how long a pool lock is honored (mrjob/pool.py _CLUSTER_LOCK_SECS)
_CLUSTER_LOCK_SECS = 60.0

#: settle time between writing the lock tag and the verification
#: describe (mrjob/pool.py _WAIT_AFTER_ADD_TAG): two racing writers must
#: each see the other's overwrite, or both conclude they hold the lock
_WAIT_AFTER_ADD_TAG = 10.0

#: how long to keep re-trying S3 log fetches after a step finishes —
#: real EMR delivers step/container logs to the LogUri with a
#: multi-minute delay (the reference's _wait_for_logs_on_s3,
#: mrjob/emr.py:2112)
_LOG_WAIT_SECS = 600.0

#: cluster states that can accept/run steps
_ACTIVE_CLUSTER_STATES = ("STARTING", "BOOTSTRAPPING", "RUNNING", "WAITING")


def _parse_s3_uri(uri: str) -> tuple:
    if not str(uri).startswith(("s3://", "s3a://", "s3n://")):
        raise ValueError("not an S3 URI: %r" % uri)
    rest = str(uri).split("://", 1)[1]
    bucket, _, key = rest.partition("/")
    return bucket, key


def _cluster_self_terminated(cluster: dict) -> bool:
    """The reference's self-termination detection
    (``_CLUSTER_SELF_TERMINATED_RE``, ``mrjob/emr.py:219-221``)."""
    import re

    msg = (cluster.get("Status", {}).get("StateChangeReason") or {}).get(
        "Message", ""
    )
    return bool(re.match(r"^.*(node|instances) .* terminated.*$", msg,
                         re.I))


class PooledClusterSelfTerminated(Exception):
    """A pooled cluster died under our job (spot loss)."""


def build_instance_group(
    role: str,
    instance_type: str,
    num_instances: int,
    bid_price=None,
) -> dict:
    """One InstanceGroup request entry (reference ``_build_instance_group``,
    mrjob/emr.py:3333-3366): ON_DEMAND by default; a truthy ``bid_price``
    flips the group to the SPOT market with ``BidPrice`` rendered as a
    string (the API requires a string, reference mrjob/emr.py:3363)."""
    if role not in ("MASTER", "CORE", "TASK"):
        raise ValueError("bad instance role %r" % role)
    if not instance_type or not num_instances:
        raise ValueError("instance group needs a type and a count")
    ig = {
        "InstanceCount": num_instances,
        "InstanceRole": role,
        "InstanceType": instance_type,
        "Market": "ON_DEMAND",
        "Name": role.lower(),
    }
    if bid_price:
        ig["Market"] = "SPOT"
        ig["BidPrice"] = str(bid_price)
    return ig


def build_cluster_params(
    name: str,
    release_label: str = "emr-6.9.0",
    instance_type: str = "m5.xlarge",
    master_instance_type: Optional[str] = None,
    num_core_instances: int = 2,
    master_instance_bid_price=None,
    core_instance_bid_price=None,
    task_instance_bid_price=None,
    num_task_instances: int = 0,
    task_instance_type: Optional[str] = None,
    ebs_root_volume_gb: Optional[int] = None,
    ec2_key_pair: Optional[str] = None,
    applications: Optional[list] = None,
    bootstrap: Optional[list] = None,
    tags: Optional[dict] = None,
    log_uri: str = "",
    keep_alive: bool = False,
    max_mins_idle: float = 10.0,
    pool_name: Optional[str] = None,
    pool_hash: Optional[str] = None,
    step_concurrency_level: int = 1,
    extra_cluster_params: Optional[dict] = None,
    instance_fleets: Optional[list] = None,
    job_flow_role: Optional[str] = None,
    service_role: Optional[str] = None,
    image_id: Optional[str] = None,
) -> dict:
    """One ``run_job_flow`` request (boto3 shape) — shared by the runner
    and the ``mrjob create-cluster`` tool so a tool-made persistent
    cluster is poolable by jobs with the matching config hash."""
    tag_list = [
        {"Key": k, "Value": str(v)} for k, v in sorted(
            (tags or {}).items()
        )
    ]
    if pool_name is not None:
        tag_list += [
            {"Key": _POOL_NAME_TAG, "Value": pool_name},
        ]
        if pool_hash is not None:
            tag_list += [{"Key": _POOL_HASH_TAG, "Value": pool_hash}]
    if instance_fleets:
        # fleet request: weighted-capacity API shape, mutually exclusive
        # with the uniform-group fields (the real API's rule too)
        instances = {
            "InstanceFleets": [dict(f) for f in instance_fleets],
            "KeepJobFlowAliveWhenNoSteps": keep_alive,
        }
    elif (master_instance_bid_price or core_instance_bid_price
          or task_instance_bid_price or num_task_instances):
        # RunJobFlow's third request shape: explicit instance groups —
        # the only one that can place a spot bid per role or add a TASK
        # group (the reference always requests this shape,
        # mrjob/emr.py:1091-1109 _instance_groups)
        groups = [
            build_instance_group(
                "MASTER", master_instance_type or instance_type, 1,
                master_instance_bid_price,
            ),
        ]
        if num_core_instances:
            groups.append(build_instance_group(
                "CORE", instance_type, num_core_instances,
                core_instance_bid_price,
            ))
        if num_task_instances:
            groups.append(build_instance_group(
                "TASK", task_instance_type or instance_type,
                num_task_instances, task_instance_bid_price,
            ))
        instances = {
            "InstanceGroups": groups,
            "KeepJobFlowAliveWhenNoSteps": keep_alive,
        }
    else:
        instances = {
            "MasterInstanceType": master_instance_type or instance_type,
            "SlaveInstanceType": instance_type,
            "InstanceCount": 1 + num_core_instances,
            "KeepJobFlowAliveWhenNoSteps": keep_alive,
        }
    if ec2_key_pair:
        instances["Ec2KeyName"] = ec2_key_pair
    params = {
        "Name": name,
        "ReleaseLabel": release_label,
        "LogUri": log_uri,
        "Applications": [
            {"Name": a} for a in (applications or ["Hadoop"])
        ],
        "Instances": instances,
        "Tags": tag_list,
        "BootstrapActions": [
            {
                "Name": "bootstrap %d" % i,
                "ScriptBootstrapAction": {"Path": line, "Args": []},
            }
            for i, line in enumerate(bootstrap or [])
        ],
    }
    if job_flow_role:
        params["JobFlowRole"] = job_flow_role
    if service_role:
        params["ServiceRole"] = service_role
    if image_id:
        params["CustomAmiId"] = image_id
    if ebs_root_volume_gb:
        # boot-volume sizing rides the top-level request, not the
        # instance groups (reference mrjob/emr.py:1195-1196)
        params["EbsRootVolumeSize"] = int(ebs_root_volume_gb)
    if step_concurrency_level != 1:
        params["StepConcurrencyLevel"] = step_concurrency_level
    if keep_alive:
        params["AutoTerminationPolicy"] = {
            "IdleTimeout": int(max_mins_idle * 60)
        }
    # opt-in arbitrary params, the reference's extra_cluster_params
    # (mrjob/cloud.py:359-369): top-level keys set or (None) delete
    for key, value in (extra_cluster_params or {}).items():
        if value is None:
            params.pop(key, None)
        else:
            params[key] = value
    return params


def pool_config_hash(
    release_label: str,
    applications: list,
    bootstrap: list,
    image_id: Optional[str] = None,
) -> str:
    """Everything that must match EXACTLY for two jobs to share a
    cluster (the role of the reference's pool hash, mrjob/pool.py):
    software identity — release label, applications, bootstrap, and
    the custom AMI when one is set (a machine image IS software;
    the reference hashes ``image_id`` too, mrjob/emr.py:2788).
    Instance SHAPE is deliberately not in the hash: like the reference,
    a bigger cluster satisfies a smaller request
    (:func:`instances_satisfy`), so a fleet's one big pooled cluster
    serves many differently-sized jobs."""
    spec = json.dumps([
        release_label, sorted(applications), list(bootstrap),
        image_id,
    ], sort_keys=True)
    return hashlib.md5(spec.encode("utf-8")).hexdigest()


#: per-instance-type (memory GiB, vCPUs) for the satisfaction check —
#: public AWS specs for the common general/compute/memory families.
#: The reference vendors the full catalog (mrjob/aws.py); this subset
#: covers the shapes the runner defaults to, and UNKNOWN types fall
#: back to exact-type matching (the reference's rule too).
EC2_INSTANCE_SPECS = {
    "m4.large": (8, 2), "m4.xlarge": (16, 4), "m4.2xlarge": (32, 8),
    "m4.4xlarge": (64, 16),
    "m5.large": (8, 2), "m5.xlarge": (16, 4), "m5.2xlarge": (32, 8),
    "m5.4xlarge": (64, 16), "m5.8xlarge": (128, 32),
    "m5.12xlarge": (192, 48),
    "c5.large": (4, 2), "c5.xlarge": (8, 4), "c5.2xlarge": (16, 8),
    "c5.4xlarge": (32, 16), "c5.9xlarge": (72, 36),
    "r5.large": (16, 2), "r5.xlarge": (32, 4), "r5.2xlarge": (64, 8),
    "r5.4xlarge": (128, 16),
}


def ig_satisfies_bid_price(actual_ig: dict, requested_bid) -> bool:
    """Does one actual instance group satisfy the requested market /
    bid price? The reference's exact rule (``_ig_satisfies_bid_price``,
    mrjob/pool.py:167-193): on-demand actuals satisfy every request; a
    spot actual never satisfies an on-demand request (``requested_bid``
    None); spot-vs-spot requires the actual bid ≥ the requested bid —
    a lower-bid cluster is more likely to be yanked away mid-job."""
    if actual_ig.get("Market", "ON_DEMAND") == "ON_DEMAND":
        return True
    if requested_bid is None:
        return False  # spot instance, requested on-demand
    actual_bid = actual_ig.get("BidPrice")
    if actual_bid == str(requested_bid):
        return True
    try:
        return float(actual_bid) >= float(requested_bid)
    except (TypeError, ValueError):
        return False  # non-float bid price


def instances_satisfy(
    actual_groups: list, requested_type: str, requested_count: int,
    *,
    master_instance_bid_price=None,
    core_instance_bid_price=None,
    task_instance_bid_price=None,
) -> bool:
    """Do a cluster's actual instance groups satisfy a request for
    ``requested_count`` core instances of ``requested_type``? The
    reference's two-axis rule (``mrjob/pool.py:197-252``):

    * MEMORY is per-instance — every worker must fit the same
      partitions the requested type would, so each actual CORE/TASK
      group's type needs ≥ the requested type's memory (same type
      always passes; unknown types fail the memory axis unless equal);
    * CPU is aggregate — total worker vCPUs ≥ requested count × the
      requested type's vCPUs (more smaller-counted bigger boxes are
      fine). For an unknown requested type, count exact-type instances
      instead.

    Third axis, per role (``_igs_for_same_role_satisfy``,
    mrjob/pool.py:147-164): the purchase MARKET — every actual group
    must satisfy the matching role's requested bid price via
    :func:`ig_satisfies_bid_price` (actual TASK groups fall back to the
    core request's bid when no task bid was requested, the reference's
    missing-role rule, mrjob/pool.py:131-135)."""
    workers = [
        g for g in actual_groups
        if g.get("InstanceGroupType") in ("CORE", "TASK")
    ]
    if not workers:
        return False

    for g in actual_groups:
        role = g.get("InstanceGroupType")
        if role == "MASTER":
            bid = master_instance_bid_price
        elif role == "TASK":
            bid = (task_instance_bid_price
                   if task_instance_bid_price is not None
                   else core_instance_bid_price)
        else:
            bid = core_instance_bid_price
        if not ig_satisfies_bid_price(g, bid):
            return False

    req_spec = EC2_INSTANCE_SPECS.get(requested_type)
    for g in workers:
        if g.get("InstanceType") == requested_type:
            continue
        spec = EC2_INSTANCE_SPECS.get(g.get("InstanceType"))
        if req_spec is None or spec is None or spec[0] < req_spec[0]:
            return False

    def count(g):
        return g.get("RunningInstanceCount",
                     g.get("RequestedInstanceCount", 0))

    if req_spec is not None:
        requested_cpu = requested_count * req_spec[1]
        actual_cpu = sum(
            count(g) * EC2_INSTANCE_SPECS.get(
                g.get("InstanceType"), (0, 0)
            )[1]
            for g in workers
        )
    else:
        requested_cpu = requested_count
        actual_cpu = sum(
            count(g) for g in workers
            if g.get("InstanceType") == requested_type
        )
    return actual_cpu >= requested_cpu


def _fleet_spec_bid_satisfies(actual_spec: dict, req_spec: dict) -> bool:
    """Per-instance-type spot-bid rules for fleet pooling (the intended
    semantics of the reference's ``_fleet_spec_satsifies``,
    mrjob/pool.py:361-416): an actual spec bidding ≥100% of on-demand
    satisfies anything; otherwise a requested absolute ``BidPrice``
    needs an actual bid ≥ it, and a requested
    ``BidPriceAsPercentageOfOnDemandPrice`` needs an actual percentage
    ≥ it. (The reference's relative-percentage branch is dead code — a
    ``req_spec``-vs-``req_bid_percent`` typo at mrjob/pool.py:401 makes
    it unreachable; this implements what the surrounding code and log
    messages clearly intend.)"""
    if actual_spec.get("BidPriceAsPercentageOfOnDemandPrice", 100) >= 100:
        return True  # bidding the on-demand price: as safe as it gets
    req_bid = req_spec.get("BidPrice")
    if req_bid is not None:
        try:
            if not float(actual_spec.get("BidPrice")) >= float(req_bid):
                return False  # bid price too low
        except (TypeError, ValueError):
            return False  # no/non-numeric actual bid price
    req_pct = req_spec.get("BidPriceAsPercentageOfOnDemandPrice")
    if req_pct:
        actual_pct = actual_spec.get("BidPriceAsPercentageOfOnDemandPrice")
        if actual_pct is None or req_pct > actual_pct:
            return False  # bid %-of-on-demand too low
    return True


def _fleet_timeout_action(fleet: dict):
    return (
        fleet.get("LaunchSpecifications", {})
        .get("SpotSpecification", {})
        .get("TimeoutAction")
    )


def _fleet_timeout_duration(fleet: dict) -> float:
    return (
        fleet.get("LaunchSpecifications", {})
        .get("SpotSpecification", {})
        .get("TimeoutDurationMinutes", 0.0)
    )


def instance_fleets_satisfy(actual_fleets: list,
                            req_fleets: list) -> bool:
    """Fleet-request vs fleet-cluster pooling satisfaction — the
    reference's rules (``mrjob/pool.py:257-345``), per role:

    * the actual fleet may only run instance types the request lists,
      and each shared type must carry the SAME ``WeightedCapacity``
      (capacity arithmetic is meaningless across different weights)
      and a spot bid at least as safe as requested
      (:func:`_fleet_spec_bid_satisfies`);
    * provisioned capacity must cover the targets — surplus on-demand
      units may stand in for missing spot units (the converse never
      holds: spot can't satisfy an on-demand target);
    * a fleet whose spot timeout action is TERMINATE_CLUSTER satisfies
      only a request that asked for exactly that, with an actual
      timeout duration ≥ the requested one (a cluster that may kill
      itself sooner than the job expects is no pool candidate,
      mrjob/pool.py:332-342);
    * roles the cluster has but the request omits are held to a relaxed
      twin of the request: CORE inherits a MASTER-only request, TASK
      inherits CORE with zero capacity targets (tasks must still be
      shaped right, but idle task fleets cost the request nothing).
    """
    if not (
        isinstance(req_fleets, (list, tuple))
        and all(
            isinstance(f, dict) and "InstanceFleetType" in f
            for f in req_fleets
        )
    ):
        return False
    a = {f.get("InstanceFleetType"): f for f in actual_fleets or []}
    r = {f["InstanceFleetType"]: dict(f) for f in req_fleets}
    if not a:
        return False
    missing = set(a) - set(r)
    if "CORE" in missing and list(r) == ["MASTER"]:
        r["CORE"] = r["MASTER"]
    if "TASK" in missing and "CORE" in r:
        r["TASK"] = dict(
            r["CORE"], TargetOnDemandCapacity=0, TargetSpotCapacity=0
        )
    if set(a) != set(r):
        return False

    for role, req in r.items():
        actual = a[role]
        actual_specs = {
            s.get("InstanceType"): s
            for s in actual.get("InstanceTypeSpecifications") or []
        }
        req_specs = {
            s.get("InstanceType"): s
            for s in req.get("InstanceTypeConfigs") or []
        }
        if set(actual_specs) - set(req_specs):
            return False
        for itype, spec in actual_specs.items():
            if spec.get("WeightedCapacity", 1) != \
                    req_specs[itype].get("WeightedCapacity", 1):
                return False
            if not _fleet_spec_bid_satisfies(spec, req_specs[itype]):
                return False
        on_demand = actual.get("ProvisionedOnDemandCapacity", 0)
        spot = actual.get("ProvisionedSpotCapacity", 0)
        want_od = req.get("TargetOnDemandCapacity", 0) or 0
        want_spot = req.get("TargetSpotCapacity", 0) or 0
        if want_od > on_demand:
            return False
        if want_spot > spot + (on_demand - want_od):
            return False
        if _fleet_timeout_action(actual) == "TERMINATE_CLUSTER":
            if _fleet_timeout_action(req) != "TERMINATE_CLUSTER":
                return False  # self-terminating fleet not requested
            if _fleet_timeout_duration(actual) < _fleet_timeout_duration(req):
                return False  # may self-terminate prematurely
    return True


class EMRJobRunner(StreamingStepRenderer):
    """EMR runner with the same surface as the other four
    (``run`` / ``cat_output`` / ``counters`` / context manager).

    :param emr_client: boto3-shaped EMR client. Default: ``boto3.client
        ('emr', region_name=region)`` — inject the mock's client in
        tests (:class:`mrjob_spark.testing.mockemr.MockEMRService`).
    :param s3_client: boto3-shaped S3 client (same deal).
    :param cloud_tmp_dir: ``s3://bucket/prefix/`` scratch root; the
        bucket is created if missing. Default ``s3://mrjob-spark-tmp/``.
    :param cloud_log_dir: where EMR writes cluster logs (``LogUri``).
        Default ``<cloud_tmp_dir>logs/``.
    :param cluster_id: join this existing cluster instead of creating
        or pooling one.
    :param pool_clusters: reuse a matching WAITING pooled cluster, and
        leave ours WAITING for the next job instead of terminating.
    :param max_mins_idle: pooled/persistent clusters self-terminate
        after this much idle time (EMR auto-termination policy).
    :param check_cluster_every: real seconds between step polls
        (tests set ~0; the mock advances per API call anyway).
    :param emr_action_on_failure: ActionOnFailure for submitted steps;
        default TERMINATE_CLUSTER for throwaway clusters and
        CANCEL_AND_WAIT for pooled/joined ones (the reference's rule,
        mrjob/emr.py:1300-1310).
    """

    alias = "emr"

    def __init__(
        self,
        job,
        input_paths: Optional[list] = None,
        output_dir: Optional[str] = None,
        emr_client=None,
        s3_client=None,
        iam_client=None,
        ec2_client=None,
        region: Optional[str] = None,
        cloud_tmp_dir: Optional[str] = None,
        cloud_log_dir: Optional[str] = None,
        release_label: str = "emr-6.9.0",
        instance_type: str = "m5.xlarge",
        master_instance_type: Optional[str] = None,
        num_core_instances: int = 2,
        master_instance_bid_price=None,
        core_instance_bid_price=None,
        task_instance_bid_price=None,
        num_task_instances: int = 0,
        task_instance_type: Optional[str] = None,
        ebs_root_volume_gb: Optional[int] = None,
        instance_fleets: Optional[list] = None,
        ec2_key_pair: Optional[str] = None,
        iam_instance_profile: Optional[str] = None,
        iam_service_role: Optional[str] = None,
        image_id: Optional[str] = None,
        applications: Optional[list] = None,
        bootstrap: Optional[list] = None,
        extra_cluster_params: Optional[dict] = None,
        tags: Optional[dict] = None,
        pool_clusters: bool = False,
        pool_name: str = "default",
        max_mins_idle: float = 10.0,
        check_cluster_every: float = 30.0,
        cluster_id: Optional[str] = None,
        add_steps_in_batch: bool = True,
        emr_action_on_failure: Optional[str] = None,
        num_reducers: Optional[int] = None,
        jobconf: Optional[dict] = None,
        conf_jobconf: Optional[dict] = None,
        cmdenv: Optional[dict] = None,
        setup: Optional[list] = None,
        libjars: Optional[list] = None,
        hadoop_extra_args: Optional[list] = None,
        python_bin: Optional[list] = None,
        bootstrap_sys_path: bool = True,
        ec2_key_pair_file: Optional[str] = None,
        ssh_bin: Optional[list] = None,
        ssh_add_bin: Optional[list] = None,
        ssh_env: Optional[dict] = None,
        ssh_tunnel: bool = False,
        ssh_tunnel_is_open: bool = False,
        cloud_api_backoff: Optional[float] = None,
        cloud_part_size_mb: Optional[float] = 100.0,
        **_ignored,
    ):
        from mrjob_spark.dataflow.cloudretry import wrap_cloud_client

        self.job = job
        self.input_paths = list(input_paths or [])
        # control-plane calls retry on throttles/transient faults — at
        # fleet concurrency ThrottlingException on describe_step is
        # steady-state, not an anomaly (reference _wrap_aws_client,
        # mrjob/aws.py:258); injected mocks get wrapped the same way so
        # tests exercise the loop
        self._cloud_api_backoff = cloud_api_backoff
        self._cloud_part_size_mb = cloud_part_size_mb
        self._emr_client = emr_client and wrap_cloud_client(
            emr_client, backoff=cloud_api_backoff
        )
        self._s3_client = s3_client and wrap_cloud_client(
            s3_client, backoff=cloud_api_backoff
        )
        self._iam_client = iam_client and wrap_cloud_client(
            iam_client, backoff=cloud_api_backoff
        )
        self._ec2_client = ec2_client and wrap_cloud_client(
            ec2_client, backoff=cloud_api_backoff
        )
        self._iam_instance_profile = iam_instance_profile
        self._iam_service_role = iam_service_role
        self._image_id = image_id
        self._region = region
        self._release_label = release_label
        if image_id and not self._release_label_gte("5.7.0"):
            # the reference warns rather than fails (mrjob/emr.py:376-379)
            _log.warning(
                "custom AMIs (image_id) need EMR release 5.7.0+;"
                " %s will probably not boot from %s",
                release_label, image_id)
        self._instance_type = instance_type
        self._master_instance_type = master_instance_type or instance_type
        self._num_core_instances = num_core_instances
        # spot bids ride the request like the reference's
        # *_instance_bid_price opts (mrjob/emr.py:293-330; blank bids are
        # dropped and the API wants strings, mrjob/emr.py:523-535)
        self._master_instance_bid_price = master_instance_bid_price or None
        self._core_instance_bid_price = core_instance_bid_price or None
        self._task_instance_bid_price = task_instance_bid_price or None
        self._num_task_instances = num_task_instances
        self._task_instance_type = task_instance_type or instance_type
        self._ebs_root_volume_gb = ebs_root_volume_gb
        self._instance_fleets = list(instance_fleets or [])
        self._ec2_key_pair = ec2_key_pair
        self._applications = list(applications or ["Hadoop"])
        self._bootstrap = list(bootstrap or [])
        self._extra_cluster_params = dict(extra_cluster_params or {})
        self._tags = dict(tags or {})
        self._pool_clusters = pool_clusters
        self._pool_name = pool_name
        self._max_mins_idle = max_mins_idle
        self.check_cluster_every = check_cluster_every
        self._cluster_id = cluster_id
        self._given_cluster_id = cluster_id is not None
        self._add_steps_in_batch = add_steps_in_batch
        self._emr_action_on_failure = emr_action_on_failure
        self._libjars = list(libjars or [])
        self._hadoop_extra_args = list(hadoop_extra_args or [])
        # cluster tasks run on EMR nodes where the driver machine's
        # sys.executable path does not exist; the reference defaults
        # non-local runners to 'python3' (mrjob/bin.py:191-205)
        self._python_bin = list(python_bin or ["python3"])
        self._bootstrap_sys_path = bootstrap_sys_path
        # SSH log channel (reference mrjob/emr.py:670-700): only wired
        # up when a key pair file is given, like the reference
        self._ec2_key_pair_file = ec2_key_pair_file
        self._ssh_bin = list(ssh_bin or ["ssh"])
        self._ssh_add_bin = list(ssh_add_bin) if ssh_add_bin else None
        self._ssh_env = dict(ssh_env or {})
        # web-UI tunnel opt (reference mrjob/options.py ssh_tunnel /
        # ssh_tunnel_is_open): when set, every step poll keeps a tunnel
        # to the resource manager alive (mrjob/cloud.py:404-409 "call
        # this whenever you think it is possible to SSH to your cluster")
        self._ssh_tunnel_opt = ssh_tunnel
        self._ssh_tunnel_is_open = ssh_tunnel_is_open
        self._ssh_tunnel: Optional[object] = None
        self._fs = None

        merged = dict(conf_jobconf or {})
        merged.update(job.JOBCONF)
        for step in job.steps():
            merged.update(getattr(step, "jobconf", {}) or {})
        merged.update(jobconf or {})
        self._jobconf = {k: str(v) for k, v in merged.items()}
        if num_reducers is None:
            # variant-tolerant read (dataflow/compat.py): a job written
            # for Hadoop 1 sets mapred.reduce.tasks and still works
            from mrjob_spark.dataflow.compat import jobconf_from_dict

            jr = jobconf_from_dict(merged, "mapreduce.job.reduces")
            if jr is not None:
                num_reducers = int(jr)
        self.num_reducers = num_reducers
        self._cmdenv = dict(cmdenv or {})
        self._setup = list(setup or [])

        user = getpass.getuser()
        self._job_key = "%s.%s.%d" % (
            type(job).__name__, user, time.time_ns()
        )
        tmp = cloud_tmp_dir or "s3://mrjob-spark-tmp/"
        if not tmp.endswith("/"):
            tmp += "/"
        self._cloud_tmp_dir = tmp
        self._job_tmp = tmp + "tmp/" + self._job_key + "/"
        self._files_uri = self._job_tmp + "files/"
        log_dir = cloud_log_dir or tmp + "logs/"
        if not log_dir.endswith("/"):
            log_dir += "/"
        self._cloud_log_dir = log_dir
        self.output_dir = output_dir or self._job_tmp + "output/"
        self._explicit_output = output_dir is not None

        self._scratch: Optional[str] = None
        self._created_cluster = False
        self._locked_cluster = False
        self._step_ids: list = []
        self._counters_per_step: list = []
        self._log_interpretations: list = []
        self._uploaded_uris: dict = {}
        self._ran = False

    # --- clients -------------------------------------------------------

    def make_emr_client(self):
        if self._emr_client is None:
            import boto3  # real-AWS path; tests always inject the mock

            from mrjob_spark.dataflow.cloudretry import wrap_cloud_client

            self._emr_client = wrap_cloud_client(
                boto3.client("emr", region_name=self._region),
                backoff=self._cloud_api_backoff,
            )
        return self._emr_client

    def make_s3_client(self):
        if self._s3_client is None:
            import boto3

            from mrjob_spark.dataflow.cloudretry import wrap_cloud_client

            self._s3_client = wrap_cloud_client(
                boto3.client("s3", region_name=self._region),
                backoff=self._cloud_api_backoff,
            )
        return self._s3_client

    def make_iam_client(self):
        if self._iam_client is None:
            import boto3

            from mrjob_spark.dataflow.cloudretry import wrap_cloud_client

            self._iam_client = wrap_cloud_client(
                boto3.client("iam", region_name=self._region),
                backoff=self._cloud_api_backoff,
            )
        return self._iam_client

    def make_ec2_client(self):
        if self._ec2_client is None:
            import boto3

            from mrjob_spark.dataflow.cloudretry import wrap_cloud_client

            self._ec2_client = wrap_cloud_client(
                boto3.client("ec2", region_name=self._region),
                backoff=self._cloud_api_backoff,
            )
        return self._ec2_client

    # --- IAM roles -----------------------------------------------------

    def _resolve_instance_profile(self) -> str:
        """Instance profile for the cluster's EC2 nodes: the explicit
        opt, else get-or-create a content-matching ``mrjob-spark-…``
        profile, else — when the account can't touch IAM (403) — the
        console's default name (reference mrjob/emr.py:1271-1283)."""
        from mrjob_spark.dataflow.cloudretry import client_error_status
        from mrjob_spark.dataflow.iam import (
            FALLBACK_INSTANCE_PROFILE,
            get_or_create_instance_profile,
        )

        if self._iam_instance_profile:
            return self._iam_instance_profile
        if self._iam_client is None and self._region is None:
            # injected-client run (mock EMR/S3, no IAM surface): use the
            # console defaults instead of dialing real AWS from a mock
            return FALLBACK_INSTANCE_PROFILE
        try:
            client = self.make_iam_client()
        except ImportError:
            # no AWS SDK here at all — same downgrade as a denied API
            return FALLBACK_INSTANCE_PROFILE
        try:
            return get_or_create_instance_profile(client)
        except Exception as ex:
            if client_error_status(ex) != 403:
                raise
            _log.warning(
                "can't access IAM API, using default instance profile:"
                " %s", FALLBACK_INSTANCE_PROFILE)
            return FALLBACK_INSTANCE_PROFILE

    def _resolve_service_role(self) -> str:
        from mrjob_spark.dataflow.cloudretry import client_error_status
        from mrjob_spark.dataflow.iam import (
            FALLBACK_SERVICE_ROLE,
            get_or_create_service_role,
        )

        if self._iam_service_role:
            return self._iam_service_role
        if self._iam_client is None and self._region is None:
            return FALLBACK_SERVICE_ROLE
        try:
            client = self.make_iam_client()
        except ImportError:
            return FALLBACK_SERVICE_ROLE
        try:
            return get_or_create_service_role(client)
        except Exception as ex:
            if client_error_status(ex) != 403:
                raise
            _log.warning(
                "can't access IAM API, using default service role: %s",
                FALLBACK_SERVICE_ROLE)
            return FALLBACK_SERVICE_ROLE

    @property
    def fs(self):
        """Driver-side filesystem (the reference's ``runner.fs``
        surface): S3 over the runner's own client, plus — when an
        ``ec2_key_pair_file`` is configured, exactly the reference's
        gate (mrjob/emr.py:678-683) — an ``ssh`` scheme for reading
        cluster-node logs before S3 delivery catches up. Sub-systems
        stay addressable by name (``fs.s3``, ``fs.ssh``)."""
        from mrjob_spark.dataflow.objectstore import ObjectStoreFS
        from mrjob_spark.dataflow.sshfs import CompositeFS, SSHFilesystem

        if self._fs is None:
            fs = CompositeFS()
            if self._ec2_key_pair_file:
                ssh = SSHFilesystem(
                    self._ssh_bin,
                    self._ec2_key_pair_file,
                    ssh_add_bin=self._ssh_add_bin,
                    env=self._ssh_env,
                )
                # log dirs are root-owned on AMI 4.3+ (reference
                # mrjob/emr.py:1513-1515); every label we run is newer
                if self._release_label_gte("4.3.0"):
                    ssh.use_sudo_over_ssh()
                fs.add_fs("ssh", ssh)
            fs.add_fs(
                "s3", ObjectStoreFS(self.make_s3_client(), scheme="s3")
            )
            self._fs = fs
        return self._fs

    def _release_label_gte(self, version: str) -> bool:
        m = re.match(r"emr-(\d+(?:\.\d+)*)", self._release_label or "")
        if not m:
            return False
        have = [int(x) for x in m.group(1).split(".")]
        want = [int(x) for x in version.split(".")]
        # right-pad with zeros: a two-component label like emr-4.3 must
        # compare equal to 4.3.0, not lexicographically-less (round-8
        # ADVICE — the boundary release lost sudo-over-ssh)
        width = max(len(have), len(want))
        have += [0] * (width - len(have))
        want += [0] * (width - len(want))
        return have >= want

    def _address_of_master(self) -> Optional[str]:
        """The cluster master's public DNS name (where SSH lands)."""
        if not self._cluster_id:
            return None
        cluster = self.make_emr_client().describe_cluster(
            ClusterId=self._cluster_id
        )["Cluster"]
        return cluster.get("MasterPublicDnsName") or None

    def _ssh_worker_hosts(self) -> list:
        """Private addresses of RUNNING core/task nodes — reached by
        chaining through the master (``master!worker``), since they
        live on the cluster's private subnet (mrjob/emr.py:2089-2110)."""
        emr = self.make_emr_client()
        hosts: list = []
        marker = None
        while True:
            kwargs = dict(
                ClusterId=self._cluster_id,
                InstanceGroupTypes=["CORE", "TASK"],
                InstanceStates=["RUNNING"],
            )
            if marker:
                kwargs["Marker"] = marker
            resp = emr.list_instances(**kwargs)
            for inst in resp.get("Instances") or []:
                addr = inst.get("PrivateIpAddress") or \
                    inst.get("PrivateDnsName")
                if addr:
                    hosts.append(addr)
            marker = resp.get("Marker")
            if not marker:
                return hosts

    #: YARN resource manager port (emr-4+ images; the reference's
    #: _IMAGE_VERSION_TO_SSH_TUNNEL_CONFIG, mrjob/emr.py:112-133)
    _RESOURCE_MANAGER_PORT = 8088

    def ssh_tunnel_args(self, bind_port: int,
                        open_tunnel: bool = False) -> Optional[list]:
        """The argv that forwards ``localhost:<bind_port>`` to the YARN
        resource manager web UI on the master's INTERNAL address
        (VPC setups resolve the public name differently — reference
        mrjob/emr.py:871-909). Rendering only: actually launching the
        tunnel needs a reachable cluster, so callers own the Popen.
        ``open_tunnel`` listens on all interfaces (``-g -4``), the
        reference's ``ssh_tunnel_is_open``."""
        if not self._ec2_key_pair_file:
            return None
        master = self._address_of_master()
        if not master:
            return None
        resp = self.make_emr_client().list_instances(
            ClusterId=self._cluster_id, InstanceGroupTypes=["MASTER"],
        )
        instances = resp.get("Instances") or []
        internal = (
            instances[0].get("PrivateIpAddress") if instances else None
        ) or master
        args = list(self._ssh_bin) + [
            "-o", "VerifyHostKeyDNS=no",
            "-o", "StrictHostKeyChecking=no",
            "-o", "ExitOnForwardFailure=yes",
            "-o", "UserKnownHostsFile=%s" % os.devnull,
            "-L", "%d:%s:%d" % (
                bind_port, internal, self._RESOURCE_MANAGER_PORT,
            ),
            "-N", "-n", "-q",
        ]
        if open_tunnel:
            args += ["-g", "-4"]
        args += ["-i", self._ec2_key_pair_file, "hadoop@%s" % master]
        return args

    def _set_up_ssh_tunnel(self) -> None:
        """Reference ``mrjob/cloud.py:404-409``: called on every cluster
        poll; builds the tunnel lazily, then keeps it alive (idempotent,
        restart-on-death, give-up latch all live in SSHTunnel)."""
        if not self._ec2_key_pair_file:
            return
        if self._ssh_tunnel is None:
            self._ssh_tunnel = self.make_ssh_tunnel(
                open_tunnel=self._ssh_tunnel_is_open)
        self._ssh_tunnel.set_up()

    def _kill_ssh_tunnel(self) -> None:
        if self._ssh_tunnel is not None:
            self._ssh_tunnel.kill()
            self._ssh_tunnel = None

    @property
    def ssh_tunnel_url(self):
        """Where the resource-manager web UI is reachable while the
        tunnel is up (None otherwise)."""
        return self._ssh_tunnel.url if self._ssh_tunnel else None

    def make_ssh_tunnel(self, open_tunnel: bool = False,
                        bind_ports=None, launch_wait_secs: float = 1.0):
        """An :class:`~mrjob_spark.dataflow.tunnel.SSHTunnel` to this
        cluster's YARN resource-manager web UI — the lifecycle the
        reference runs on every cluster poll when ``ssh_tunnel`` is set
        (``mrjob/cloud.py:404-505``): call ``.set_up()`` whenever the
        cluster looks reachable (idempotent, restarts a dead tunnel),
        read ``.url``, ``.kill()`` at cleanup. Bind-port candidates are
        seeded on the cluster id so retries reuse the same local port."""
        from mrjob_spark.dataflow.tunnel import (
            DEFAULT_SSH_BIND_PORTS, SSHTunnel,
        )

        return SSHTunnel(
            render_args=lambda p: self.ssh_tunnel_args(
                p, open_tunnel=open_tunnel),
            cluster_id=self._cluster_id or "",
            name="resource manager",
            path="/cluster",
            bind_ports=(DEFAULT_SSH_BIND_PORTS if bind_ports is None
                        else bind_ports),
            open_tunnel=open_tunnel,
            launch_wait_secs=launch_wait_secs,
        )

    # --- S3 helpers ------------------------------------------------------

    def _ensure_bucket(self, bucket: str) -> None:
        s3 = self.make_s3_client()
        try:
            s3.head_bucket(Bucket=bucket)
        except Exception:
            s3.create_bucket(Bucket=bucket)

    def _upload_part_size(self) -> Optional[int]:
        """Multipart-upload part size in bytes, from ``cloud_part_size_mb``
        (reference ``MRJobRunner._upload_part_size``,
        mrjob/runner.py:1263-1267; default 100 MB, mrjob/cloud.py:46).
        None disables multipart entirely."""
        if self._cloud_part_size_mb:
            return int(self._cloud_part_size_mb * 1024 * 1024)
        return None

    def _s3_put_file(self, local_path: str, uri: str) -> None:
        bucket, key = _parse_s3_uri(uri)
        # chunk size AND threshold ride the part size, with a huge
        # sentinel when multipart is disabled — the reference's exact
        # transfer config (mrjob/fs/s3.py:204-217)
        part_size = self._upload_part_size() or 2 ** 256
        try:
            from boto3.s3.transfer import TransferConfig

            config = TransferConfig(
                multipart_chunksize=part_size,
                multipart_threshold=part_size,
            )
        except ImportError:  # mock-only environments without boto3
            config = None
        self.make_s3_client().upload_file(
            Filename=local_path, Bucket=bucket, Key=key, Config=config
        )

    def _s3_read(self, uri: str) -> bytes:
        bucket, key = _parse_s3_uri(uri)
        body = self.make_s3_client().get_object(
            Bucket=bucket, Key=key
        )["Body"].read()
        if key.endswith(".gz"):
            body = gzip.decompress(body)
        return body

    def _s3_ls(self, prefix_uri: str) -> Iterator[str]:
        bucket, prefix = _parse_s3_uri(prefix_uri)
        for obj in iter_objects(self.make_s3_client(), bucket, prefix):
            if key_within(obj["Key"], prefix):
                yield "s3://%s/%s" % (bucket, obj["Key"])

    def _s3_rm_prefix(self, prefix_uri: str) -> None:
        """Recursive rm bounded at the path segment: ``rm`` of the
        output dir on the spot-loss retry must never delete sibling
        keys that merely extend the string (ADVICE r7)."""
        bucket, prefix = _parse_s3_uri(prefix_uri)
        s3 = self.make_s3_client()
        doomed = [
            obj["Key"]
            for obj in iter_objects(s3, bucket, prefix)
            if key_within(obj["Key"], prefix)
        ]
        for key in doomed:
            s3.delete_object(Bucket=bucket, Key=key)

    # --- uploads ---------------------------------------------------------

    def _get_scratch(self) -> str:
        if self._scratch is None:
            self._scratch = tempfile.mkdtemp(prefix="mrjob-spark-emr-")
        return self._scratch

    def _upload(self, local_path: str, name: str | None = None) -> str:
        local_path = os.path.abspath(local_path)
        if local_path in self._uploaded_uris:
            return self._uploaded_uris[local_path]
        name = name or os.path.basename(local_path)
        uri = self._files_uri + name
        self._s3_put_file(local_path, uri)
        self._uploaded_uris[local_path] = uri
        return uri

    def _prepare_uploads(self) -> tuple:
        """Returns (-files entries, -archives entries, input URIs) —
        the same upload set as ``-r hadoop`` (job transported by
        cloudpickle; the package zip rides the distributed cache)."""
        import pyspark.cloudpickle as cloudpickle

        self._ensure_bucket(_parse_s3_uri(self._cloud_tmp_dir)[0])
        scratch = self._get_scratch()

        job_pkl = os.path.join(scratch, "job.pkl")
        with open(job_pkl, "wb") as fh:
            fh.write(cloudpickle.dumps(self.job))

        files = [
            self._upload(job_pkl) + "#job.pkl",
            self._upload(_zip_package(scratch)) + "#mrjob_spark.zip",
        ]
        for entry in list(self.job.FILES) + list(
            getattr(self.job, "DIRS", []) or []
        ):
            path, _, alias = str(entry).partition("#")
            name = alias or os.path.basename(path.rstrip("/"))
            files.append(self._upload(path) + "#" + name)

        archives = []
        for entry in list(getattr(self.job, "ARCHIVES", []) or []):
            path, _, alias = str(entry).partition("#")
            name = alias or os.path.basename(path)
            archives.append(self._upload(path) + "#" + name)

        inputs = []
        for i, p in enumerate(self.input_paths):
            if "://" in p:
                inputs.append(p)
            else:
                import glob as globmod

                matches = sorted(globmod.glob(p)) or [p]
                for j, m in enumerate(matches):
                    inputs.append(self._upload(
                        m, "input-%05d-%05d-%s" % (i, j, os.path.basename(m))
                    ))
        if not inputs:
            raise ValueError("no input: pass input_paths")
        return files, archives, inputs

    # --- pooling ----------------------------------------------------------

    def _pool_hash(self) -> str:
        return pool_config_hash(
            self._release_label, self._applications, self._bootstrap,
            image_id=self._image_id,
        )

    @staticmethod
    def _tags_dict(cluster: dict) -> dict:
        return {t["Key"]: t["Value"] for t in cluster.get("Tags") or []}

    def _attempt_to_lock_cluster(self, cluster: dict) -> bool:
        """The reference's tag-based lock dance
        (``mrjob/pool.py:589-711``): honor a non-expired lock, write
        ours, wait out the settle window, re-describe, and proceed only
        if ours survived."""
        emr = self.make_emr_client()
        cluster_id = cluster["Id"]
        if cluster["Status"]["State"] != "WAITING":
            return False

        lock = self._tags_dict(cluster).get(_POOL_LOCK_TAG)
        now = time.time()
        if lock:
            try:
                _their_key, expiry = lock.rsplit(" ", 1)
                if float(expiry) > now:
                    return False
            except ValueError:
                pass  # invalid lock: ignore it, like the reference

        our_lock = "%s %.6f" % (self._job_key, now + _CLUSTER_LOCK_SECS)
        emr.add_tags(
            ResourceId=cluster_id,
            Tags=[{"Key": _POOL_LOCK_TAG, "Value": our_lock}],
        )
        # settle before verifying, so a racing writer's overwrite is
        # visible (mrjob/pool.py:650-665); check_cluster_every == 0
        # (the mock convention) skips the wait
        if self.check_cluster_every:
            time.sleep(_WAIT_AFTER_ADD_TAG)
        cluster = emr.describe_cluster(ClusterId=cluster_id)["Cluster"]
        if cluster["Status"]["State"] not in ("WAITING", "RUNNING"):
            return False
        if self._tags_dict(cluster).get(_POOL_LOCK_TAG) != our_lock:
            return False  # overwritten by another job
        self._locked_cluster = True
        return True

    def _release_cluster_lock(self) -> None:
        if not self._locked_cluster:
            return
        try:
            self.make_emr_client().remove_tags(
                ResourceId=self._cluster_id, TagKeys=[_POOL_LOCK_TAG]
            )
        except Exception:
            pass  # lock expires on its own (mrjob/pool.py:713-730)
        self._locked_cluster = False

    def _find_cluster(self) -> Optional[str]:
        """A WAITING pooled cluster with our pool name + hash that we
        can lock. Candidates are tried MOST-CPU-FIRST (the reference's
        rule: "the cluster with the most CPU goes first",
        mrjob/emr.py:2424-2512): with many matching clusters, fleet
        drivers pile onto the biggest one, which drains the pool's
        small stragglers into idle-reaping instead of keeping every
        cluster half-warm. The reference estimates CPU as
        NormalizedInstanceHours over hours-since-ready; we compute
        worker capacity directly from the instance metadata the
        satisfaction check already fetched (vCPUs for groups, weighted
        capacity for fleets) — same ordering, no clock arithmetic.
        Ties break newest-first, as before."""
        emr = self.make_emr_client()
        want_hash = self._pool_hash()
        summaries = emr.list_clusters(
            ClusterStates=["WAITING"]
        ).get("Clusters") or []
        candidates = []  # (capacity, recency, cluster)
        for recency, summary in enumerate(reversed(summaries)):
            cluster = emr.describe_cluster(
                ClusterId=summary["Id"]
            )["Cluster"]
            tags = self._tags_dict(cluster)
            if tags.get(_POOL_NAME_TAG) != self._pool_name:
                continue
            if tags.get(_POOL_HASH_TAG) != want_hash:
                continue
            # the hash matched software identity; instance SHAPE is a
            # satisfaction check — a bigger cluster serves a smaller
            # request (mrjob/pool.py:106-345). Collection types must
            # agree: weighted-fleet capacity and uniform-group counts
            # don't convert
            is_fleet_cluster = cluster.get(
                "InstanceCollectionType", "INSTANCE_GROUP"
            ) == "INSTANCE_FLEET"
            if self._instance_fleets:
                if not is_fleet_cluster:
                    continue
                fleets = emr.list_instance_fleets(
                    ClusterId=cluster["Id"]
                ).get("InstanceFleets") or []
                if not instance_fleets_satisfy(
                    fleets, self._instance_fleets
                ):
                    continue
                capacity = sum(
                    (f.get("ProvisionedOnDemandCapacity", 0) or 0)
                    + (f.get("ProvisionedSpotCapacity", 0) or 0)
                    for f in fleets
                    if f.get("InstanceFleetType") in ("CORE", "TASK")
                )
            else:
                if is_fleet_cluster:
                    continue
                groups = emr.list_instance_groups(
                    ClusterId=cluster["Id"]
                ).get("InstanceGroups") or []
                if not instances_satisfy(
                    groups, self._instance_type, self._num_core_instances,
                    master_instance_bid_price=(
                        self._master_instance_bid_price),
                    core_instance_bid_price=self._core_instance_bid_price,
                    task_instance_bid_price=self._task_instance_bid_price,
                ):
                    continue
                capacity = sum(
                    g.get("RunningInstanceCount",
                          g.get("RequestedInstanceCount", 0))
                    * (EC2_INSTANCE_SPECS.get(
                        g.get("InstanceType"), (0, 1))[1])
                    for g in groups
                    if g.get("InstanceGroupType") in ("CORE", "TASK")
                )
            candidates.append((capacity, -recency, cluster))
        candidates.sort(key=lambda t: (t[0], t[1]), reverse=True)
        for _capacity, _r, cluster in candidates:
            if self._attempt_to_lock_cluster(cluster):
                return cluster["Id"]
        return None

    # --- cluster lifecycle --------------------------------------------------

    def _cluster_params(self) -> dict:
        """The ``run_job_flow`` request (boto3 shape)."""
        return build_cluster_params(
            name=self._job_key,
            release_label=self._release_label,
            instance_type=self._instance_type,
            master_instance_type=self._master_instance_type,
            num_core_instances=self._num_core_instances,
            master_instance_bid_price=self._master_instance_bid_price,
            core_instance_bid_price=self._core_instance_bid_price,
            task_instance_bid_price=self._task_instance_bid_price,
            num_task_instances=self._num_task_instances,
            task_instance_type=self._task_instance_type,
            ebs_root_volume_gb=self._ebs_root_volume_gb,
            instance_fleets=self._instance_fleets or None,
            ec2_key_pair=self._ec2_key_pair,
            applications=self._applications,
            bootstrap=self._bootstrap,
            tags=self._tags,
            log_uri=self._cloud_log_dir,
            keep_alive=self._pool_clusters,
            max_mins_idle=self._max_mins_idle,
            pool_name=self._pool_name if self._pool_clusters else None,
            pool_hash=self._pool_hash() if self._pool_clusters else None,
            extra_cluster_params=self._extra_cluster_params,
            job_flow_role=self._resolve_instance_profile(),
            service_role=self._resolve_service_role(),
            image_id=self._image_id,
        )

    def _launch(self, use_pool: bool = True) -> None:
        if use_pool and self._pool_clusters and not self._cluster_id:
            found = self._find_cluster()
            if found:
                self._cluster_id = found
        if not self._cluster_id:
            resp = self.make_emr_client().run_job_flow(
                **self._cluster_params()
            )
            self._cluster_id = resp["JobFlowId"]
            self._created_cluster = True

    def _action_on_failure(self) -> str:
        if self._emr_action_on_failure:
            return self._emr_action_on_failure
        if self._given_cluster_id or self._pool_clusters:
            return "CANCEL_AND_WAIT"
        return "TERMINATE_CLUSTER"

    # --- step building --------------------------------------------------

    def _build_streaming_step(
        self, step, step_num: int, num_steps: int, files, archives,
        inputs, output_uri,
    ) -> dict:
        body = self._streaming_step_body(
            step, step_num, files, archives, inputs, output_uri
        )
        return {
            "Name": "%s: Step %d of %d" % (
                self._job_key, step_num + 1, num_steps
            ),
            "ActionOnFailure": self._action_on_failure(),
            "HadoopJarStep": {
                "Jar": _COMMAND_RUNNER_JAR,
                "Args": ["hadoop-streaming"] + body,
            },
        }

    def _build_spark_step(
        self, step, step_num: int, num_steps: int, inputs, output_uri,
    ) -> dict:
        """X6 Spark apps as EMR steps (the reference's
        ``_spark_step_hadoop_jar_step``, ``mrjob/emr.py:1375-1378``):
        ``command-runner.jar`` launching ``spark-submit`` with the
        EMR-hard-coded ``--master yarn --deploy-mode cluster``
        (``mrjob/emr.py:1395-1402`` — cluster mode, else the driver
        can't read S3). The app target (script or jar) is uploaded to
        S3 first; INPUT/OUTPUT sentinels in args interpolate to S3
        URIs, and free-form apps (no sentinels — the ``mrjob
        spark-submit -r emr`` shape) own their IO."""
        from mrjob_spark.dataflow.step import INPUT, OUTPUT

        in_arg = ",".join(inputs)
        args = [
            str(a).replace(INPUT, in_arg).replace(OUTPUT, output_uri)
            for a in step.args
        ]
        submit_args = ["spark-submit", "--master", "yarn",
                       "--deploy-mode", "cluster"]
        # user spark_args follow the hard-coded pair; spark-submit takes
        # the LAST occurrence of a switch, so explicit overrides win
        submit_args += [str(a) for a in step.spark_args]
        for k, v in sorted(step.jobconf.items()):
            submit_args += ["--conf", "%s=%s" % (k, v)]
        target = getattr(step, "script", None) or step.jar
        uploaded = self._upload(target)
        if getattr(step, "main_class", None):
            submit_args += ["--class", step.main_class]
        submit_args += [uploaded] + args
        return {
            "Name": "%s: Step %d of %d" % (
                self._job_key, step_num + 1, num_steps
            ),
            "ActionOnFailure": self._action_on_failure(),
            "HadoopJarStep": {
                "Jar": _COMMAND_RUNNER_JAR,
                "Args": submit_args,
            },
        }

    def _build_jar_step(self, step, step_num: int, num_steps: int,
                        inputs: list, output_uri: str) -> dict:
        """Plain X7 ``'jar'`` step: the reference submits the user's jar
        AS the HadoopJarStep jar (``mrjob/emr.py`` ``_build_step`` jar
        branch) — no command-runner indirection — with INPUT/OUTPUT
        interpolated to S3 URIs and GENERIC_ARGS to the ``-D`` property
        list, and MainClass passed through when set."""
        from mrjob_spark.dataflow.step import GENERIC_ARGS, INPUT, OUTPUT

        in_arg = ",".join(inputs)
        props = ["-D%s=%s" % (k, v)
                 for k, v in sorted(step.jobconf.items())]
        args: list = []
        for a in step.args:
            if a == GENERIC_ARGS:
                args.extend(props)
            else:
                args.append(
                    str(a).replace(INPUT, in_arg).replace(OUTPUT,
                                                          output_uri)
                )
        jar = step.jar
        if "://" not in jar:  # local jar → upload beside the job files
            jar = self._upload(jar)
        hadoop_jar_step = {"Jar": jar, "Args": args}
        if step.main_class:
            hadoop_jar_step["MainClass"] = step.main_class
        return {
            "Name": "%s: Step %d of %d" % (
                self._job_key, step_num + 1, num_steps
            ),
            "ActionOnFailure": self._action_on_failure(),
            "HadoopJarStep": hadoop_jar_step,
        }

    # --- execution --------------------------------------------------------

    def run(self) -> "EMRJobRunner":
        from mrjob_spark.dataflow.step import (
            JarStep,
            MRStep,
            SparkJarStep,
            SparkScriptStep,
        )

        if self._ran:
            return self
        steps = self.job.steps()
        for step in steps:
            if not isinstance(
                step, (MRStep, JarStep, SparkScriptStep, SparkJarStep)
            ):
                raise NotImplementedError(
                    "-r emr runs streaming (MRStep), jar (JarStep) and"
                    " Spark-app (SparkScriptStep/SparkJarStep) steps; %r"
                    " needs the Spark runner" % type(step).__name__
                )
            if getattr(step, "mapper_raw", None):
                raise NotImplementedError(
                    "mapper_raw under -r emr needs the input-manifest"
                    " machinery; use -r inline/local/spark"
                )

        files, archives, inputs = self._prepare_uploads()
        try:
            self._run_on_cluster(steps, files, archives, inputs)
        except PooledClusterSelfTerminated:
            # the reference's retry: a pooled cluster died under us —
            # run again on a fresh, non-pooled cluster
            # (mrjob/emr.py:241-247,1811-1850)
            self._cluster_id = None
            self._created_cluster = False
            self._locked_cluster = False
            self._step_ids = []
            self._counters_per_step = []
            self._pool_clusters = False
            # partial outputs from the dead attempt would make the new
            # attempt's streaming steps refuse their output dirs
            self._s3_rm_prefix(self._job_tmp + "step-output/")
            self._s3_rm_prefix(self.output_dir)
            self._run_on_cluster(steps, files, archives, inputs)
        self._ran = True
        return self

    def _run_on_cluster(self, steps, files, archives, inputs) -> None:
        from mrjob_spark.dataflow.step import JarStep, MRStep

        self._launch()
        inputs = list(inputs)
        submit: list = []
        for step_num, step in enumerate(steps):
            last = step_num == len(steps) - 1
            output_uri = (
                self.output_dir if last
                else self._job_tmp + "step-output/%04d/" % step_num
            )
            if isinstance(step, MRStep):
                submit.append(self._build_streaming_step(
                    step, step_num, len(steps), files, archives, inputs,
                    output_uri.rstrip("/"),
                ))
            elif isinstance(step, JarStep):
                submit.append(self._build_jar_step(
                    step, step_num, len(steps), inputs,
                    output_uri.rstrip("/"),
                ))
            else:
                submit.append(self._build_spark_step(
                    step, step_num, len(steps), inputs,
                    output_uri.rstrip("/"),
                ))
            inputs = [output_uri.rstrip("/")]

        emr = self.make_emr_client()
        if self._add_steps_in_batch:
            self._step_ids = list(emr.add_job_flow_steps(
                JobFlowId=self._cluster_id, Steps=submit
            )["StepIds"])
        for i in range(len(submit)):
            if len(self._step_ids) <= i:
                self._step_ids += emr.add_job_flow_steps(
                    JobFlowId=self._cluster_id, Steps=[submit[i]]
                )["StepIds"]
            self._wait_for_step(self._step_ids[i], i, len(submit))

    def _wait_for_step(self, step_id: str, step_num: int,
                       num_steps: int) -> None:
        """The reference's observation loop (``mrjob/emr.py:1587-1700``):
        PENDING reports the cluster state, RUNNING releases the pool
        lock, COMPLETED fetches counters, anything else diagnoses."""
        emr = self.make_emr_client()
        while True:
            if self.check_cluster_every:
                time.sleep(self.check_cluster_every)
            step = emr.describe_step(
                ClusterId=self._cluster_id, StepId=step_id
            )["Step"]
            state = step["Status"]["State"]

            # keep the web-UI tunnel alive on every poll, once the
            # cluster could plausibly accept SSH (any post-PENDING step
            # state implies a running master) — idempotent + restarting,
            # with its own give-up latch, so this never loops the poll
            if self._ssh_tunnel_opt and state != "PENDING":
                self._set_up_ssh_tunnel()

            if state == "PENDING":
                continue
            if state == "RUNNING":
                # our steps are running: other jobs may join the pool now
                self._release_cluster_lock()
                continue
            if state == "COMPLETED":
                self._release_cluster_lock()
                interp = self._interpret_step_logs(step_id)
                self._log_interpretations.append(interp)
                self._counters_per_step.append(interp.get("counters", {}))
                return

            # FAILED / CANCELLED / INTERRUPTED
            self._release_cluster_lock()
            cluster = emr.describe_cluster(
                ClusterId=self._cluster_id
            )["Cluster"]
            if (not self._created_cluster
                    and cluster["Status"]["State"].startswith("TERMINATED")
                    and _cluster_self_terminated(cluster)):
                raise PooledClusterSelfTerminated(
                    "pooled cluster %s self-terminated" % self._cluster_id
                )
            interp = self._interpret_step_logs(step_id)
            self._log_interpretations.append(interp)
            cause, excerpt = self._probable_cause(step_id)
            msg = "step %d of %d %s on cluster %s" % (
                step_num + 1, num_steps, state, self._cluster_id
            )
            reason = (cluster["Status"].get("StateChangeReason") or {}).get(
                "Message"
            )
            if reason:
                msg += "\ncluster is %s: %s" % (
                    cluster["Status"]["State"], reason
                )
            if cause:
                msg += "\nProbable cause of failure:\n" + cause
            if excerpt:
                msg += "\n--- task log excerpt ---\n" + excerpt
            raise RuntimeError(msg)

    # --- log interpretation ----------------------------------------------

    def _step_log_prefix(self, step_id: str) -> str:
        return "%s%s/steps/%s/" % (
            self._cloud_log_dir, self._cluster_id, step_id
        )

    def _wait_for_logs_on_s3(self, fetch, deadline_secs=_LOG_WAIT_SECS):
        """Real EMR ships logs to the LogUri minutes after the step
        finishes; retry *fetch* (returns a truthy result or raises)
        with bounded waiting, like the reference's _wait_for_logs_on_s3
        (mrjob/emr.py:2112). check_cluster_every == 0 (mock) → one try."""
        deadline = time.time() + (
            deadline_secs if self.check_cluster_every else 0
        )
        while True:
            try:
                result = fetch()
                # delivery is object-existence: a fetch that SUCCEEDS has
                # found the shipped log, even when the step wrote nothing
                # to stderr — treating "" as not-yet-delivered spun this
                # loop for the full deadline (600 s) on every step whose
                # driver stderr was empty (round 13; the stall behind the
                # driver's truncated pytest run). Only a raising fetch
                # (object not there yet) keeps waiting.
                if result is not None:
                    return result
            except Exception:
                pass
            if time.time() >= deadline:
                return None
            time.sleep(self.check_cluster_every)

    def _ssh_read_step_stderr(self, step_id: str) -> Optional[str]:
        """Read the step's driver stderr straight off the master's disk
        (``/mnt/var/log/hadoop/steps/<step-id>/stderr``) — available the
        moment the step ends, minutes before S3 delivery. The
        reference's log strategy tries SSH first for exactly this
        reason (mrjob/emr.py:2040-2080, _stream_step_log_dirs)."""
        if not self._ec2_key_pair_file:
            return None
        try:
            master = self._address_of_master()
            if not master:
                return None
            uri = "ssh://%s/mnt/var/log/hadoop/steps/%s/stderr" % (
                master, step_id,
            )
            chunks = list(self.fs.ssh.cat(uri))
        except IOError:
            return None
        if not chunks:
            return None
        return b"".join(chunks).decode("utf-8", "replace")

    def _interpret_step_logs(self, step_id: str) -> dict:
        """Counters + ids from the step's driver stderr — over SSH from
        the master's disk when a key pair is configured (immediate),
        else from S3 with bounded delivery waiting. Same text either
        way: what ``-r hadoop`` reads from the subprocess."""
        text = self._ssh_read_step_stderr(step_id)
        if text is None:
            text = self._wait_for_logs_on_s3(
                lambda: self._s3_read(
                    self._step_log_prefix(step_id) + "stderr.gz"
                ).decode("utf-8", "replace")
            )
        if text is None:
            return {}
        interp = interpret_driver_stderr(text)
        interp["step_id"] = step_id
        return interp

    def _ssh_container_log_texts(self) -> list:
        """Container logs straight off the nodes' disks
        (``/mnt/var/log/hadoop-yarn/containers/`` on the master and —
        chained through it — every core/task node), before S3 delivery.
        The reference streams task-log dirs the same way with
        ``ssh_to_workers=True`` (mrjob/emr.py:1957-1976)."""
        if not self._ec2_key_pair_file:
            return []
        master = self._address_of_master()
        if not master:
            return []
        addresses = [master]
        try:
            addresses += [
                "%s!%s" % (master, w) for w in self._ssh_worker_hosts()
            ]
        except IOError:
            pass
        texts = []
        for addr in addresses:
            uri = "ssh://%s/mnt/var/log/hadoop-yarn/containers" % addr
            try:
                for f in self.fs.ssh.ls(uri):
                    if f.endswith(("stderr", "syslog", "stderr.gz",
                                   "syslog.gz")):
                        texts.append(b"".join(
                            self.fs.ssh.cat(f)
                        ).decode("utf-8", "replace"))
            except IOError:
                continue
        return texts

    def _probable_cause(self, step_id: str) -> tuple:
        """Scan the cluster's container logs through the shared
        task-log pattern library (the reference reads the same
        layouts, ``mrjob/logs``) — node disks over SSH first, then the
        S3 LogUri copy."""
        from mrjob_spark.dataflow.errors import extract_probable_cause

        prefix = "%s%s/containers/" % (
            self._cloud_log_dir, self._cluster_id
        )

        def fetch():
            texts = []
            for uri in self._s3_ls(prefix):
                if uri.endswith(("stderr.gz", "syslog.gz", "stderr",
                                 "syslog")):
                    texts.append(
                        self._s3_read(uri).decode("utf-8", "replace")
                    )
            # an empty listing means nothing was delivered yet: keep
            # waiting (None), unlike an empty but delivered stderr object
            return texts or None

        # container logs also reach the LogUri with delay on real EMR
        texts = self._ssh_container_log_texts()
        if not texts:
            texts = self._wait_for_logs_on_s3(fetch)
        if not texts:
            return None, None
        joined = "\n".join(texts)
        cause = extract_probable_cause(joined)
        if cause:
            return cause, "\n".join(joined.splitlines()[-40:])
        return None, None

    # --- output -------------------------------------------------------------

    def cat_output(self) -> Iterator:
        if not self._ran:
            self.run()
        read = self.job.OUTPUT_PROTOCOL().read
        for uri in sorted(self._s3_ls(self.output_dir)):
            name = posixpath.basename(uri)
            if name.startswith(("_", ".")):
                continue
            for line in self._s3_read(uri).splitlines():
                if line:
                    yield read(line)

    def collect_output(self) -> list:
        return list(self.cat_output())

    def counters(self) -> dict:
        merged: dict = {}
        for step_counters in self._counters_per_step:
            for group, names in step_counters.items():
                g = merged.setdefault(group, {})
                for name, amount in names.items():
                    g[name] = g.get(name, 0) + amount
        return merged

    def get_cluster_id(self) -> Optional[str]:
        return self._cluster_id

    # --- cleanup ----------------------------------------------------------

    def cleanup(self) -> None:
        import shutil

        self._kill_ssh_tunnel()
        self._release_cluster_lock()
        if self._scratch:
            shutil.rmtree(self._scratch, ignore_errors=True)
            self._scratch = None
        try:
            # an explicit output_dir lives outside the job tmp prefix,
            # so this never touches kept results
            self._s3_rm_prefix(self._job_tmp)
        except Exception:
            pass
        # terminate throwaway clusters we created; pooled ones stay
        # WAITING for the next job (idle timeout reaps them)
        if self._created_cluster and not self._pool_clusters:
            try:
                cluster = self.make_emr_client().describe_cluster(
                    ClusterId=self._cluster_id
                )["Cluster"]
                if cluster["Status"]["State"] in _ACTIVE_CLUSTER_STATES:
                    self.make_emr_client().terminate_job_flows(
                        JobFlowIds=[self._cluster_id]
                    )
            except Exception:
                pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.cleanup()
        return False


__all__ = [
    "EMRJobRunner",
    "PooledClusterSelfTerminated",
    "build_cluster_params",
    "pool_config_hash",
]
